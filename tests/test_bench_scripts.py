"""The kept bench scripts import cleanly, and the runbooks name only scripts
that exist."""

from __future__ import annotations

import glob
import importlib.util
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "bench", "*.py")))
DOCS = ("README.md", "docs/OPERATIONS.md", ".claude/skills/verify/SKILL.md")


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_bench_script_imports(path):
    name = "bench_" + os.path.basename(path)[: -len(".py")]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)  # defines main(); only __main__ runs it
    assert callable(module.main)


@pytest.mark.parametrize("doc", DOCS)
def test_documented_python_commands_exist(doc):
    with open(os.path.join(REPO, doc)) as fh:
        scripts = re.findall(r"\bpython3? ((?:[\w.-]+/)*[\w-]+\.py)\b", fh.read())
    assert scripts, f"{doc} names no python script"
    missing = [s for s in scripts if not os.path.isfile(os.path.join(REPO, s))]
    assert not missing, f"{doc} runs scripts that do not exist: {missing}"
