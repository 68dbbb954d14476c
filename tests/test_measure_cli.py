"""``scripts/measure.py`` argument handling (pure Python, no Spark)."""

from __future__ import annotations

import argparse
import importlib.util
from pathlib import Path

import pytest

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "measure.py"
_spec = importlib.util.spec_from_file_location("measure", SCRIPT)
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)


def test_parse_conf_skips_empty_entries_and_keeps_equals_in_values():
    assert measure.parse_conf("") == {}
    assert measure.parse_conf("a=1;b=x=y") == {"a": "1", "b": "x=y"}


def test_malformed_conf_is_a_usage_error_naming_the_entry(capsys):
    with pytest.raises(argparse.ArgumentTypeError, match="'bad'"):
        measure.parse_conf("bad")
    with pytest.raises(SystemExit) as exited:
        measure.build_parser().parse_args(["time", "q", "--conf", "a=1;bad"])
    assert exited.value.code == 2
    assert "conf entry 'bad' is not key=value" in capsys.readouterr().err
