"""Date parsing helpers (reference: src/convert_chrono.cpp).

Parses the two formats the extractors here consume:
- ISO-8601: ``2007-08-09T23:26:06`` (optional Z/offset, fractional secs)
- OpenOffice legacy: ``20070809;23260600`` (YYYYMMDD;HHMMSSff)
All results are naive UTC ``datetime`` objects.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta

_ISO_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})[T ](\d{2}):(\d{2})(?::(\d{2}))?"
    r"(?:\.(\d+))?\s*(Z|[+-]\d{2}:?\d{2})?$"
)
# YYYYMMDD;HHMMSSff — the reference requires total length >= 17 (the
# two fractional-second digits must be present, and are ignored;
# convert_chrono.cpp:62-76)
_LEGACY_RE = re.compile(r"^(\d{4})(\d{2})(\d{2});(\d{2})(\d{2})(\d{2})\d\d")


def _apply_offset(dt: datetime, sign: str, hh: str, mm) -> datetime:
    delta = timedelta(hours=int(hh), minutes=int(mm or 0))
    return dt - delta if sign == "+" else dt + delta


def parse_iso8601(s: str):
    m = _ISO_RE.match(s.strip())
    if not m:
        return None
    y, mo, d, h, mi, sec, _frac, tz = m.groups()
    try:
        dt = datetime(int(y), int(mo), int(d), int(h), int(mi), int(sec or 0))
    except ValueError:
        return None
    if tz and tz != "Z":
        sign, rest = tz[0], tz[1:].replace(":", "")
        dt = _apply_offset(dt, sign, rest[:2], rest[2:4] or 0)
    return dt


def parse_openoffice_legacy(s: str):
    m = _LEGACY_RE.match(s.strip())
    if not m:
        return None
    y, mo, d, h, mi, sec = (int(g) for g in m.groups())
    try:
        return datetime(y, mo, d, h, mi, sec)
    except ValueError:
        return None


def parse_iso8601_or_legacy(s: str):
    return parse_iso8601(s) or parse_openoffice_legacy(s)
