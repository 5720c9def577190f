from __future__ import annotations

import pytest

from maillog2db_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("maillog2db_spark_tests", cpus=4)
    yield s
    s.stop()


def pytest_collection_modifyitems(config, items):
    """Tier the measured-slow tests (tests/slow_tier.txt, r11) behind
    the ``slow`` marker and deselect them from the DEFAULT run so the
    gate finishes in ~1/3 of the full-suite wall time. Explicit intent
    always wins and skips the default deselection: any ``-m``
    expression (``-m slow`` = tiered set, ``-m "slow or not slow"`` =
    everything), any ``-k`` expression, a test named by node id, and a
    test file named by path (``tests/test_x.py``) all run their slow
    tests too (an addopts-based ``-m "not slow"`` silently deselected
    them — r11 review fix)."""
    import os

    path = os.path.join(os.path.dirname(__file__), "slow_tier.txt")
    with open(path) as f:
        slow = {line.strip() for line in f if line.strip()}
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)
    if config.option.markexpr or config.option.keyword:
        return  # an explicit -m / -k expression controls selection itself
    if any(
        "::" in str(a) or str(a).endswith(".py")
        for a in config.invocation_params.args
    ):
        return  # explicitly named tests and test files always run
    deselect = [i for i in items if i.get_closest_marker("slow")]
    if deselect:
        config.hook.pytest_deselected(items=deselect)
        kept = set(id(i) for i in deselect)
        items[:] = [i for i in items if id(i) not in kept]
