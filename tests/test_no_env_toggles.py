"""Guard: the package reads the process environment in exactly two
places — config.py (the reference's CLI/env configuration surface) and
session.py (deployment sizing: SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM).
An environment variable read anywhere else would let a user-set
variable swap a production plan shape behind the caller's back; plan
choices are parameters, measured alternatives live in git history."""

from __future__ import annotations

import ast
from pathlib import Path

import pulsar_elasticsearch_sync_rs_spark as pkg

PKG_DIR = Path(pkg.__file__).parent
ALLOWED = {PKG_DIR / "config.py", PKG_DIR / "session.py"}
ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _env_reads(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ENV_NAMES:
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ENV_NAMES for a in node.names):
                lines.append(node.lineno)
    return lines


def test_guard_detects_env_reads():
    src = "import os as _o\nfrom os import getenv\nx = _o.environ.get('A')\ny = _o.getenv('B')\n"
    assert sorted(_env_reads(ast.parse(src))) == [2, 3, 4]


def test_env_is_read_only_in_config_and_session():
    offenders = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        if path in ALLOWED:
            continue
        for line in _env_reads(ast.parse(path.read_text(), filename=str(path))):
            offenders.append(f"{path.relative_to(PKG_DIR.parent)}:{line}")
    assert offenders == [], offenders
    # the allow-list is not vacuous: both files really read the env
    for path in ALLOWED:
        assert _env_reads(ast.parse(path.read_text())), path
