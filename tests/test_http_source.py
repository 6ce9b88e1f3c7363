"""S1/S2 HTTP fetch boundary: timeout/transport failures -> E005, malformed
payloads -> E003 (reference ``staffing-roster-pipeline.py:75-87``). All
transports are injected fakes — no sockets."""

from __future__ import annotations

import json

import pytest

from ibc_spark.errors import InvalidFormatError, SheetReadError
from ibc_spark.io_.sources import dataframe_from_rows, fetch_sheet_rows

ROWS = [{"Name": "Alice", "Email": "a@x.edu"}, {"Name": "Bob"}]


def ok_transport(url, timeout):
    ok_transport.seen = (url, timeout)
    return json.dumps(ROWS).encode()


def test_fetch_builds_url_and_parses(spark):
    rows = fetch_sheet_rows(
        "https://sheets.example/app",
        params={"action": "read", "path": "Roster"},
        transport=ok_transport,
    )
    assert rows == ROWS
    url, timeout = ok_transport.seen
    assert url == "https://sheets.example/app?action=read&path=Roster"
    assert timeout == 10.0  # reference's 10 s default


def test_timeout_is_e005():
    def slow(url, timeout):
        raise TimeoutError(f"timed out after {timeout}s")

    with pytest.raises(SheetReadError) as ei:
        fetch_sheet_rows("https://x", transport=slow, timeout=0.01)
    assert ei.value.code == "E005"
    assert "HTTP request failed" in ei.value.message


def test_http_error_is_e005():
    def err(url, timeout):
        raise OSError("HTTP 503")

    with pytest.raises(SheetReadError) as ei:
        fetch_sheet_rows("https://x", transport=err)
    assert ei.value.code == "E005"


def test_non_json_is_e003():
    with pytest.raises(InvalidFormatError) as ei:
        fetch_sheet_rows("https://x", transport=lambda u, t: b"<html>oops</html>")
    assert ei.value.code == "E003"


def test_non_array_payload_is_e003():
    with pytest.raises(InvalidFormatError):
        fetch_sheet_rows("https://x", transport=lambda u, t: b'{"error": "no"}')
    with pytest.raises(InvalidFormatError):
        fetch_sheet_rows("https://x", transport=lambda u, t: b'[1, 2, 3]')


def test_empty_sheet_is_empty_list():
    assert fetch_sheet_rows("https://x", transport=lambda u, t: b"[]") == []


def test_read_sheet_to_dataframe(spark):
    df = dataframe_from_rows(spark, fetch_sheet_rows("https://x", transport=ok_transport))
    assert df.count() == 2
    assert set(df.columns) == {"Name", "Email"}
    assert df.where(df.Email.isNull()).count() == 1  # missing key -> NULL
