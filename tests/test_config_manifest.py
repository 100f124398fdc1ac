"""Config-surface parity + checkpoint config pinning.

The reference's CrawlConfig carries three surfaces beyond the scheduling
knobs (types/crawler.ts:13-23): customHeaders (applied to every fetch,
crawler-engine.ts:565-566), fileTypeFilters and captchaSolving (declared
but never read anywhere in lib/ — config-only). Faithful parity =
accepting + recording all three while leaving the schedule bit-identical,
plus refusing to resume a checkpoint under a different config.
"""

from __future__ import annotations

import json
import os

import pytest

from crawler_spark.engine.config import CrawlConfig
from crawler_spark.engine.frontier import FrontierEngine, fresh_ckpt

FIXDIR = "fixtures/t-smoke"


def _visits(spark, cfg, ck):
    eng = FrontierEngine(spark, cfg, FIXDIR, fresh_ckpt(ck))
    return [(r["visit_rank"], r["url"], r["batch_id"])
            for r in eng.run().orderBy("visit_rank").collect()]


def test_parity_fields_recorded_and_inert(spark, tmp_path):
    plain = CrawlConfig(max_depth=2)
    loaded = CrawlConfig(
        max_depth=2,
        custom_headers=(("x-crawl-run", "r4"), ("accept-language", "en")),
        file_type_filters=("pdf", "png"),
        captcha_enabled=True, captcha_service="2captcha")
    assert loaded.fetch_headers() == {"x-crawl-run": "r4",
                                      "accept-language": "en"}
    ck = str(tmp_path / "loaded")
    got = _visits(spark, loaded, ck)
    assert got == _visits(spark, plain, str(tmp_path / "plain"))

    with open(os.path.join(ck, "config.json")) as f:
        man = json.load(f)
    assert man["custom_headers"] == [["x-crawl-run", "r4"],
                                     ["accept-language", "en"]]
    assert man["file_type_filters"] == ["pdf", "png"]
    assert man["captcha_enabled"] is True
    assert man["captcha_service"] == "2captcha"
    assert man["max_depth"] == 2


def test_resume_refuses_changed_config(spark, tmp_path):
    cfg = CrawlConfig(max_depth=2, custom_headers=(("a", "1"),))
    ck = fresh_ckpt(str(tmp_path / "pin"))
    FrontierEngine(spark, cfg, FIXDIR, ck).explore(max_rounds=1)

    # identical config resumes fine
    FrontierEngine(spark, cfg, FIXDIR, ck).explore(max_rounds=2)

    for changed in (CrawlConfig(max_depth=3, custom_headers=(("a", "1"),)),
                    CrawlConfig(max_depth=2, custom_headers=(("a", "2"),)),
                    CrawlConfig(max_depth=2, custom_headers=(("a", "1"),),
                                captcha_enabled=True)):
        with pytest.raises(ValueError, match="different CrawlConfig"):
            FrontierEngine(spark, changed, FIXDIR, ck).explore()

