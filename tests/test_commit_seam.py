"""Source guard: artifact commits go through io/commitproto.

A plain ``open(path, "w")`` truncates the file before writing it, so a
crash mid-write leaves a torn file that an existence check treats as a
committed marker. The facade, the operators and the streaming
maintenance code must publish through ``io.commitproto.publish_marker``
(write-then-rename) instead."""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "vectordb_acc_and_speed_exp_spark",
)


def _write_opens(path: str) -> list[int]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    lines = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "open"
        ):
            continue
        mode = node.args[1] if len(node.args) > 1 else next(
            (kw.value for kw in node.keywords if kw.arg == "mode"), None
        )
        if (
            isinstance(mode, ast.Constant)
            and isinstance(mode.value, str)
            and "w" in mode.value
        ):
            lines.append(node.lineno)
    return lines


def test_no_plain_write_open_outside_the_commit_seam():
    files = [os.path.join(PKG, "api.py")]
    for sub in ("operators", "streaming"):
        files += sorted(glob.glob(os.path.join(PKG, sub, "*.py")))
    offenders = {
        os.path.relpath(f, PKG): lines
        for f in files
        if (lines := _write_opens(f))
    }
    assert not offenders, (
        f"open(..., 'w') outside io/commitproto: {offenders} — commit "
        "through io.commitproto.publish_marker"
    )


def test_guard_sees_a_plain_write_open(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        'with open(p, "w") as f:\n    pass\n'
        'with open(p, mode="wb") as f:\n    pass\n'
        "with open(p) as f:\n    pass\n"
    )
    assert _write_opens(str(src)) == [1, 3]
