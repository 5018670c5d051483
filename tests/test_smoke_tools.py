"""Every `tools/smoke_*.py` imports cleanly without running. Several of
them reach into pipeline internals (the near-pair core's stages, the
MinHash candidate stage), so a renamed helper fails here rather than at
the next scale run."""

import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMOKES = sorted(
    os.path.basename(p)[:-3] for p in glob.glob(os.path.join(REPO, "tools", "smoke_*.py"))
)


def test_every_smoke_tool_is_collected():
    assert len(SMOKES) >= 14


@pytest.mark.parametrize("name", SMOKES)
def test_smoke_tool_imports(name):
    importlib.import_module(f"tools.{name}")
