"""Connector options: the one place that knows the option set.

Mirrors the reference factory's option surface and error behavior
(``HttpLookupTableSourceFactory.scala:27-123``).  Each
:class:`HttpLookupOptions` field declares its ``WITH(...)`` key, its default
and, for integers, its lower bound: required ``url``; optional ``xpath``
(RFC-6901 JSON pointer), ``method`` (parsed but the runtime always issues
GET — dead option replicated for parity,
``HttpInputFormatProvider.scala:89-94``), ``cache.refresh-interval``
(ISO-8601 duration string, default PT5M), ``connect.timeout.seconds`` (10,
positive), ``read.timeout.seconds`` (30, positive), ``max.retries`` (3,
non-negative), ``retry.delay.ms`` (1000, positive).  An instance is checked
when it is built, so an invalid one cannot exist; :func:`validate_options`
maps a ``WITH(...)`` dict onto it.  Failures raise
:class:`ValidationException` with the reference's message text so plan-time
errors are recognizable.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, fields
from typing import Mapping


class ValidationException(ValueError):
    """Plan-time option validation error (≙ Flink's ValidationException)."""


FACTORY_IDENTIFIER = "http-lookup-full-cache"

# ISO-8601 duration, the subset java.time.Duration.parse accepts:
# PnDTnHnMn.nS (at least one component; case-insensitive; optional sign).
_ISO8601_DURATION = re.compile(
    r"^[+-]?P(?=.)((?P<days>\d+)D)?"
    r"(T(?=.)((?P<hours>\d+)H)?((?P<minutes>\d+)M)?"
    r"((?P<seconds>\d+)(\.(?P<fraction>\d{1,9}))?S)?)?$",
    re.IGNORECASE,
)


def parse_iso8601_duration_seconds(text: str) -> float:
    """Parse a java.time.Duration-style ISO-8601 duration into seconds.

    Raises ``ValueError`` on malformed input (caller wraps it with the
    reference's message text).
    """
    m = _ISO8601_DURATION.match(text.strip())
    if m is None:
        raise ValueError(f"not an ISO-8601 duration: {text!r}")
    days = int(m.group("days") or 0)
    hours = int(m.group("hours") or 0)
    minutes = int(m.group("minutes") or 0)
    seconds = int(m.group("seconds") or 0)
    fraction = m.group("fraction") or ""
    frac = int(fraction) / (10 ** len(fraction)) if fraction else 0.0
    total = days * 86400 + hours * 3600 + minutes * 60 + seconds + frac
    if text.strip().startswith("-"):
        total = -total
    return total


#: lower bound → the reference's wording of it
_BOUND_TEXT = {0: "non-negative", 1: "positive"}


def _option(key: str, default: object, *, minimum: int | None = None):
    return field(default=default, metadata={"key": key, "minimum": minimum})


@dataclass(frozen=True)
class HttpLookupOptions:
    """Options of the http-lookup-full-cache source, checked when built.

    Checks run in the reference's order: ``url`` present, the refresh
    interval an ISO-8601 duration, then each integer option in key order.
    An integer option takes any value ``int(str(value))`` reads, as the
    ``WITH(...)`` block's text values, and holds the parsed ``int``.
    """

    url: str = _option("url", "")
    xpath: str = _option("xpath", "")
    method: str = _option("method", "GET")
    cache_refresh_interval: str = _option("cache.refresh-interval", "PT5M")
    connect_timeout_seconds: int = _option("connect.timeout.seconds", 10, minimum=1)
    read_timeout_seconds: int = _option("read.timeout.seconds", 30, minimum=1)
    max_retries: int = _option("max.retries", 3, minimum=0)
    retry_delay_ms: int = _option("retry.delay.ms", 1000, minimum=1)

    def __post_init__(self) -> None:
        if self.url in (None, ""):
            raise ValidationException(
                "One or more required options are missing.\n\n"
                "Missing required options are:\n\nurl"
            )
        try:
            parse_iso8601_duration_seconds(self.cache_refresh_interval)
        except ValueError:
            raise ValidationException(
                f"Invalid format for cache.refresh-interval: '{self.cache_refresh_interval}'. "
                "Expected format is ISO-8601 duration (e.g., PT5M for 5 minutes)."
            ) from None
        for f in fields(self):
            minimum = f.metadata["minimum"]
            if minimum is None:
                continue
            key, value = f.metadata["key"], getattr(self, f.name)
            try:
                value = int(str(value))
            except ValueError:
                raise ValidationException(
                    f"Invalid value for {key}: {value}. Must be an integer."
                ) from None
            if value < minimum:
                raise ValidationException(
                    f"Invalid value for {key}: {value}. Must be {_BOUND_TEXT[minimum]}."
                )
            object.__setattr__(self, f.name, value)

    @property
    def refresh_interval_seconds(self) -> float:
        """``cache.refresh-interval`` in seconds."""
        return parse_iso8601_duration_seconds(self.cache_refresh_interval)


#: ``WITH(...)`` key → field name
_FIELD_BY_KEY = {f.metadata["key"]: f.name for f in fields(HttpLookupOptions)}


def validate_options(options: Mapping[str, object] | HttpLookupOptions) -> HttpLookupOptions:
    """Validate a DDL-style ``WITH(...)`` options dict; an
    :class:`HttpLookupOptions` is returned unchanged.

    Reference parity (``HttpLookupTableSourceFactory.scala:58-123``):
    unknown options rejected (FactoryUtil.validate) before the checks
    :class:`HttpLookupOptions` makes when built.
    """
    if isinstance(options, HttpLookupOptions):
        return options
    unknown = set(options) - set(_FIELD_BY_KEY) - {"connector", "format"}
    if unknown:
        raise ValidationException(
            "Unsupported options found for '"
            + FACTORY_IDENTIFIER
            + "'.\n\nUnsupported options:\n\n"
            + "\n".join(sorted(str(k) for k in unknown))
        )
    return HttpLookupOptions(
        **{_FIELD_BY_KEY[k]: v for k, v in options.items() if k in _FIELD_BY_KEY}
    )
