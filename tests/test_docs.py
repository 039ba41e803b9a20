"""The docs name only files that exist: every repo-relative ``*.py`` path in
README.md's layout table and in CLAUDE.md's Commands section must be in the
checkout, so a deleted script cannot linger in either."""

import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PY_PATH = re.compile(r"(?<![\w/.])((?:[\w-]+/)*[\w-]+\.py)\b")


def _section(doc: str, heading: str) -> str:
    with open(os.path.join(ROOT, doc)) as f:
        text = f.read()
    body = text.split(f"\n{heading}\n", 1)[1]
    return re.split(r"\n## ", body, maxsplit=1)[0]


def _code_py_paths(text: str) -> list[str]:
    spans = re.findall(r"`([^`]+)`", text)
    return sorted({p for s in spans for p in _PY_PATH.findall(s)})


@pytest.mark.parametrize(
    "doc, heading, first_column_only",
    [("README.md", "## Layout", True), ("CLAUDE.md", "## Commands", False)],
    ids=["readme-layout", "claude-commands"],
)
def test_named_py_paths_exist(doc, heading, first_column_only):
    text = _section(doc, heading)
    if first_column_only:
        text = "\n".join(
            line.split("|")[1] for line in text.splitlines() if line.startswith("|")
        )
    paths = _code_py_paths(text)
    assert paths, f"no .py path found in {doc} {heading}"
    missing = [p for p in paths if not os.path.isfile(os.path.join(ROOT, p))]
    assert not missing, f"{doc} {heading} names missing files: {missing}"
