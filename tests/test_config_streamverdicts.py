"""ConfigFile analog (S6) + native streaming verdict aggregation."""

import json

import pytest

from mds_provider_spark.sources.config import ConfigFile


def test_config_section_merge(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({
        "version": "0.4.0",
        "lime": {"token": "abc", "n_parts": 64},
        "bird": {"token": "xyz"},
    }))
    cfg = ConfigFile(str(p))
    assert cfg.sections() == ["lime", "bird"]
    got = cfg.section("lime", defaults={"n_parts": 16, "snr_db": 30.0})
    assert got == {"version": "0.4.0", "token": "abc", "n_parts": 64, "snr_db": 30.0}
    with pytest.raises(KeyError):
        cfg.section("nope")
