"""Every package module compiles with warnings turned into errors. An
invalid escape sequence in a non-raw string literal is only a
DeprecationWarning today (a SyntaxWarning from Python 3.12) and is
slated to become a SyntaxError."""

from __future__ import annotations

import pathlib
import warnings

PKG = pathlib.Path(__file__).resolve().parent.parent / "at_data_pipelines_spark"


def test_package_compiles_with_warnings_as_errors():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except (SyntaxError, Warning) as e:
                bad.append(f"{path.relative_to(PKG)}: {e}")
    assert not bad, bad
