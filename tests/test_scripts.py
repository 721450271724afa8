"""Every kept script imports cleanly.  A script that imports a
helper from a module that is gone fails here, not at its first
manual run.  Nothing is run: only the module bodies execute."""

from __future__ import annotations

import importlib
import os

import pytest

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


@pytest.mark.parametrize("name", [
    "cacm_eval", "canary_gated_scaling", "check_contract",
    "confined_cluster_run", "fault_ceiling_probe", "make_pkg_zip",
    "scaling_run", "submit_build",
])
def test_script_imports(monkeypatch, name):
    monkeypatch.syspath_prepend(SCRIPTS)
    mod = importlib.import_module(name)
    assert os.path.dirname(mod.__file__) == SCRIPTS
