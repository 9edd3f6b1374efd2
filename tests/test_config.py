"""No dead PipelineConfig knobs: a field nothing reads still enters the run
fingerprint, so setting it forces a recompute that changes nothing."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

import log_analysis_ai_spark
from log_analysis_ai_spark.config import PipelineConfig


def test_config_fields_are_read():
    """Every field is read as `cfg.<field>` in the package's code (engine
    or oracle); comments and docstrings do not count."""
    reads = {
        node.attr
        for path in pathlib.Path(log_analysis_ai_spark.__file__).parent.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "cfg"
    }
    assert {f.name for f in dataclasses.fields(PipelineConfig)} - reads == set()
