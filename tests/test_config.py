"""Config loading: TOML file + env override precedence
(reference analog: config.rs:42-73 — file then env)."""

from __future__ import annotations

import os

import pytest

from dawnsearch_spark.config import EngineConfig, load_config
from dawnsearch_spark.manifest import config_fingerprint


def test_defaults():
    cfg = EngineConfig()
    assert (cfg.k1, cfg.b, cfg.top_k) == (1.2, 0.75, 10)


def test_toml_example_loads():
    cfg = load_config(os.path.join(os.path.dirname(__file__), "..", "dawnsearch_spark.toml.example"))
    assert cfg.k1 == 1.2 and cfg.num_term_buckets == 32
    assert cfg.id_cols == ("repo", "path", "commit")
    assert cfg.max_driver_phrase_docs == 4096
    assert cfg.cache_postings == 20_000_000


def test_env_overrides_toml(monkeypatch):
    monkeypatch.setenv("DAWNSEARCH_SPARK_TOP_K", "25")
    monkeypatch.setenv("DAWNSEARCH_SPARK_B", "0.5")
    cfg = load_config(os.path.join(os.path.dirname(__file__), "..", "dawnsearch_spark.toml.example"))
    assert cfg.top_k == 25 and cfg.b == 0.5


def test_fingerprint_tracks_layout_fields():
    a = config_fingerprint(EngineConfig())
    assert a == config_fingerprint(EngineConfig(top_k=99))  # serving knob: no rebuild
    assert a != config_fingerprint(EngineConfig(block_size=64))  # layout: rebuild


def test_unknown_key_raises(tmp_path):
    p = tmp_path / "typo.toml"
    p.write_text("[engine]\nmax_driver_posting = 5\n")
    with pytest.raises(ValueError, match="max_driver_posting"):
        load_config(str(p))


def test_toml_example_covers_every_field():
    """The example file names every EngineConfig field (a commented
    ``# key = ...`` line counts) and nothing else, so a removed or added
    knob cannot drift out of step with it."""
    import re
    from dataclasses import fields

    path = os.path.join(os.path.dirname(__file__), "..", "dawnsearch_spark.toml.example")
    with open(path) as f:
        keys = {
            m.group(1)
            for line in f
            if (m := re.match(r"^#?\s*([a-z_][a-z0-9_]*)\s*=", line))
        }
    assert keys == {f.name for f in fields(EngineConfig)}
