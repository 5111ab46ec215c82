def pytest_configure(config):
    config.addinivalue_line(
        "markers", "smoke: runs a workload end to end (about a minute each)"
    )
