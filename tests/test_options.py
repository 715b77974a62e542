"""Option parsing/validation — port of reference factory unit tests
(``HttpLookupTableSourceFactoryTest.scala:19-141``)."""

import pytest

from flink_http_full_cache_connector_spark.options import (
    FACTORY_IDENTIFIER,
    HttpLookupOptions,
    ValidationException,
    parse_iso8601_duration_seconds,
    validate_options,
)


def test_create_with_required_options_only():
    opts = validate_options({"url": "http://example.com/api"})
    assert opts == HttpLookupOptions(url="http://example.com/api")
    assert opts.xpath == ""
    assert opts.method == "GET"
    assert opts.cache_refresh_interval == "PT5M"
    assert opts.refresh_interval_seconds == 300.0
    assert opts.connect_timeout_seconds == 10
    assert opts.read_timeout_seconds == 30
    assert opts.max_retries == 3
    assert opts.retry_delay_ms == 1000


def test_create_with_all_options():
    opts = validate_options(
        {
            "url": "http://example.com/api",
            "xpath": "/data/items",
            "method": "GET",
            "cache.refresh-interval": "PT30S",
            "connect.timeout.seconds": "5",
            "read.timeout.seconds": "15",
            "max.retries": "2",
            "retry.delay.ms": "500",
        }
    )
    assert opts.xpath == "/data/items"
    assert opts.refresh_interval_seconds == 30.0
    assert opts.connect_timeout_seconds == 5
    assert opts.read_timeout_seconds == 15
    assert opts.max_retries == 2
    assert opts.retry_delay_ms == 500
    # built directly, the parsed interval follows the field
    direct = HttpLookupOptions(url="http://example.com/api", cache_refresh_interval="PT30S")
    assert direct.refresh_interval_seconds == 30.0


def test_missing_url_raises_mentioning_url():
    with pytest.raises(ValidationException, match="url"):
        validate_options({"xpath": "/data"})


def test_invalid_duration_format():
    with pytest.raises(
        ValidationException,
        match="Invalid format for cache.refresh-interval: 'not-a-duration'",
    ):
        validate_options({"url": "http://x", "cache.refresh-interval": "not-a-duration"})


@pytest.mark.parametrize(
    ("key", "value", "message"),
    [
        ("connect.timeout.seconds", "-1", "Invalid value for connect.timeout.seconds: -1. Must be positive."),
        ("connect.timeout.seconds", "0", "Invalid value for connect.timeout.seconds: 0. Must be positive."),
        ("read.timeout.seconds", "-5", "Invalid value for read.timeout.seconds: -5. Must be positive."),
        ("max.retries", "-1", "Invalid value for max.retries: -1. Must be non-negative."),
        ("retry.delay.ms", "0", "Invalid value for retry.delay.ms: 0. Must be positive."),
    ],
)
def test_invalid_numeric_options(key, value, message):
    with pytest.raises(ValidationException) as exc:
        validate_options({"url": "http://x", key: value})
    assert message in str(exc.value)
    # built directly, the same bound holds with the same message
    field_name = key.replace(".", "_")
    with pytest.raises(ValidationException) as exc:
        HttpLookupOptions(url="http://x", **{field_name: int(value)})
    assert message in str(exc.value)


def test_zero_max_retries_is_valid():
    assert validate_options({"url": "http://x", "max.retries": "0"}).max_retries == 0


def test_unknown_option_rejected():
    with pytest.raises(ValidationException, match="Unsupported options"):
        validate_options({"url": "http://x", "bogus.option": "1"})


def test_factory_identifier():
    assert FACTORY_IDENTIFIER == "http-lookup-full-cache"


@pytest.mark.parametrize(
    ("text", "seconds"),
    [
        ("PT5M", 300.0),
        ("PT5S", 5.0),
        ("PT1H", 3600.0),
        ("P1D", 86400.0),
        ("PT0.5S", 0.5),
        ("P1DT2H3M4S", 93784.0),
        ("pt5m", 300.0),
    ],
)
def test_iso8601_durations(text, seconds):
    assert parse_iso8601_duration_seconds(text) == seconds


@pytest.mark.parametrize("text", ["", "P", "PT", "5M", "PT5X", "1000"])
def test_iso8601_invalid(text):
    with pytest.raises(ValueError):
        parse_iso8601_duration_seconds(text)
