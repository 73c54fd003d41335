import pytest

from simplecrawler_spark.config import CrawlConfig


@pytest.mark.parametrize("field,bad", [
    ("dedupe_mode", "bloom"),
    ("fetch_mode", "https"),
    ("discovery_mode", "links"),
    ("robots_mode", "eager"),
])
def test_unknown_mode_rejected(field, bad):
    """A misspelled mode must fail at construction: the engine branches on
    exact values, so e.g. dedupe_mode="bloom" would probe Bloom sidecars no
    round ever writes and re-admit every cross-round duplicate."""
    with pytest.raises(ValueError, match=field):
        CrawlConfig(**{field: bad})
    CrawlConfig.from_json(CrawlConfig().to_json())  # defaults stay valid
