"""Every extension registry module must import STANDALONE (r14, advice
item): tooling that does `import hds_functions_spark.registry_ext7`
directly must not depend on the ext-chain import order — each module
pulls the chain head itself."""

import importlib
import os
import subprocess
import sys

import pytest

_EXT_MODULES = [
    f"registry_ext{n}" for n in ["", 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13]
] + ["registry_web", "registry_subdoc"]

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("mod", _EXT_MODULES)
def test_ext_module_imports_standalone(mod):
    # a FRESH interpreter per module: in-process importlib would see the
    # chain already imported by an earlier test
    proc = subprocess.run(
        [sys.executable, "-c", f"import hds_functions_spark.{mod}"],
        capture_output=True,
        text=True,
        cwd=_REPO_ROOT,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_chain_registers_every_query_once():
    """The chain-head guard must not double-register: re-importing the
    chain in one process keeps QUERIES/ORACLES consistent."""
    import hds_functions_spark.registry_ext  # noqa: F401
    from hds_functions_spark.registry import ORACLES, QUERIES

    n_q, n_o = len(QUERIES), len(ORACLES)
    importlib.import_module("hds_functions_spark.registry_ext11")
    assert len(QUERIES) == n_q and len(ORACLES) == n_o
