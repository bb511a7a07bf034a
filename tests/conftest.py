from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from docling_gfcr_spark.session import get_spark

    spark = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield spark
    spark.stop()


#: the reference checkout's root, stashed when the parity fixture finds it
#: absent (for the terminal summary below)
_REFERENCE_ROOT = pytest.StashKey[str]()


def pytest_terminal_summary(terminalreporter, config):
    """An absent reference must read as "parity not verified", not vanish
    into the skip count: every reference-parity test skips with a reason
    naming the reference."""
    skipped = [
        r for r in terminalreporter.stats.get("skipped", [])
        if isinstance(r.longrepr, tuple) and "reference" in r.longrepr[2]
    ]
    if skipped:
        root = config.stash.get(_REFERENCE_ROOT, None)
        why = f"{root} absent" if root else "see the skip reasons"
        terminalreporter.write_line(
            f"reference parity NOT verified ({why}): "
            f"{len(skipped)} reference-parity test(s) skipped"
        )


@pytest.fixture(scope="session")
def reference_agent(request):
    """The reference's pure functions, imported read-only as a parity oracle.

    /root/reference is study-only content: we import its module to CALL its
    pure text functions as ground truth in equality tests; no code is copied.
    """
    import importlib.util

    path = "/root/reference/scripts/markdown_agent.py"
    if not os.path.exists(path):
        request.config.stash[_REFERENCE_ROOT] = os.path.dirname(os.path.dirname(path))
        pytest.skip("reference repo not present")
    spec = importlib.util.spec_from_file_location("ref_markdown_agent", path)
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    except Exception as e:  # missing optional deps in this container
        pytest.skip(f"reference module not importable: {e}")
    return mod.MarkdownAgent(output_dir="/tmp/ref-out")
