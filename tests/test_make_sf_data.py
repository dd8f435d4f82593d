"""The sf-data generator's day boundaries do not depend on the host zone."""

import time


def test_day_us_is_utc_under_non_utc_tz(monkeypatch):
    from tools.make_sf_data import _day_us

    monkeypatch.setenv("TZ", "EST5")  # POSIX zone string: UTC-5, no tzdata needed
    time.tzset()
    try:
        assert _day_us("1995-01-01") == 788_918_400 * 1_000_000
    finally:
        monkeypatch.undo()
        time.tzset()
