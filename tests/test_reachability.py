"""Every top-level def under gnosis_ocr_spark/ is reached from an entry point
or listed, with its reason, in the KEEP table of scripts/reachability.py."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "reachability.py"
_spec = importlib.util.spec_from_file_location("reachability", _SCRIPT)
R = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(R)


def test_every_def_is_reached_or_kept():
    assert R.problems() == []


def test_check_flags_a_def_no_entry_point_calls(tmp_path):
    pkg = tmp_path / R.PACKAGE
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "m.py").write_text(
        "import zlib\n"
        "TABLE = zlib.crc32(b'')\n"
        "def used():\n    return helper()\n"
        "def helper():\n    return 1\n"
        "def dead():\n    return helper()\n"
        "class Called:\n    def method(self):\n        return via_method()\n"
        "def via_method():\n    return 2\n"
    )
    (tmp_path / "scripts").mkdir()
    (tmp_path / "perfbench").mkdir()
    for name in R.ROOT_FILES:
        (tmp_path / name).write_text("")
    (tmp_path / "__spark_entry__.py").write_text(
        "def entry():\n"
        "    from gnosis_ocr_spark.m import used, Called\n"
        "    return used(), Called()\n"
    )
    unreached, _ = R.analyze(tmp_path)
    assert unreached == ["gnosis_ocr_spark/m.py:dead"]
