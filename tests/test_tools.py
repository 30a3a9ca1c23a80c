"""Gates on the measuring tools under tools/.

- Every ``tools/<name>.py`` path the code cites (in the package, bench.py,
  the tests and the tools themselves) names a file that exists, so a
  deleted or renamed tool cannot leave a dangling pointer behind.
- Every tool imports without running its command-line entry (each keeps
  it behind ``if __name__ == "__main__"``): a kept tool that imports a
  deleted one fails here, not the next time someone runs it.
"""

from __future__ import annotations

import importlib
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
CITED = re.compile(r"tools/(\w+)\.py")


def _sources():
    yield os.path.join(REPO, "bench.py")
    for top in ("coldata_spark", "tests", "tools"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            for f in files:
                if f.endswith(".py"):
                    yield os.path.join(root, f)


def test_cited_tool_paths_exist():
    dangling = []
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                for name in CITED.findall(line):
                    if not os.path.isfile(os.path.join(TOOLS, f"{name}.py")):
                        rel = os.path.relpath(path, REPO)
                        dangling.append(f"{rel}:{lineno}: tools/{name}.py")
    assert not dangling, "cited tools that do not exist:\n" + "\n".join(dangling)


@pytest.mark.parametrize(
    "name",
    sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py")),
)
def test_tool_imports_without_running_main(name):
    importlib.import_module(f"tools.{name}")
