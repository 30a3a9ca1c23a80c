"""Gates on the measuring tools under tools/.

- Every ``tools/<name>.py`` path the code cites (in the package, bench.py,
  the tests and the tools themselves) names a file that exists, so a
  deleted or renamed tool cannot leave a dangling pointer behind.  The
  same holds for cited plan dumps under ``plans/`` (brace alternatives
  such as ``_{before,after}.txt`` are each checked).
- Every tool imports without running its command-line entry (each keeps
  it behind ``if __name__ == "__main__"``): a kept tool that imports a
  deleted one fails here, not the next time someone runs it.
- Every session is built by ``coldata_spark.session.get_spark``: no other
  Python file calls the session builder, so no tool runs without the
  session's defaults (its Python worker daemon among them).
"""

from __future__ import annotations

import importlib
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
CITED = re.compile(r"tools/\w+\.py")
CITED_PLAN = re.compile(r"\bplans/\w[\w./{},-]*")
BUILDER = re.compile(r"SparkSession\s*\.\s*builder")


def _sources():
    yield os.path.join(REPO, "bench.py")
    for top in ("coldata_spark", "tests", "tools"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            for f in files:
                if f.endswith(".py"):
                    yield os.path.join(root, f)


def _dangling(pattern, exists) -> list[str]:
    out = []
    for path in _sources():
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                for cited in pattern.findall(line):
                    if not exists(cited):
                        rel = os.path.relpath(path, REPO)
                        out.append(f"{rel}:{lineno}: {cited}")
    return out


def _brace_expand(path: str) -> list[str]:
    m = re.search(r"\{([^{}]*)\}", path)
    if m is None:
        return [path]
    return [
        p
        for alt in m.group(1).split(",")
        for p in _brace_expand(path[: m.start()] + alt + path[m.end() :])
    ]


def test_cited_tool_paths_exist():
    dangling = _dangling(CITED, lambda p: os.path.isfile(os.path.join(REPO, p)))
    assert not dangling, "cited tools that do not exist:\n" + "\n".join(dangling)


def test_cited_plan_paths_exist():
    def exists(cited):
        return all(
            os.path.exists(os.path.join(REPO, p.rstrip(".,")))
            for p in _brace_expand(cited)
        )

    dangling = _dangling(CITED_PLAN, exists)
    assert not dangling, "cited plan dumps that do not exist:\n" + "\n".join(
        dangling
    )


@pytest.mark.parametrize(
    "name",
    sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py")),
)
def test_tool_imports_without_running_main(name):
    importlib.import_module(f"tools.{name}")


def test_only_get_spark_builds_sessions():
    session_py = os.path.join(REPO, "coldata_spark", "session.py")
    builders = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and path != session_py:
                with open(path, encoding="utf-8") as fh:
                    if BUILDER.search(fh.read()):
                        builders.append(os.path.relpath(path, REPO))
    assert not builders, "sessions built outside get_spark:\n" + "\n".join(builders)
