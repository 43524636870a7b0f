"""Offline tests of the SharePoint/Graph connector via fake transport
(no network; validates URL construction, pagination, retry/backoff,
token refresh, filters — the logic the reference lacks or gets wrong)."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ingest_sharepoint_file_to_fabric_lakehouse_spark.sources.sharepoint import (  # noqa: E402
    GraphAuth,
    SharePointClient,
    download_batch,
)


class FakeResp:
    def __init__(self, status_code=200, body=None, headers=None, content=b""):
        self.status_code = status_code
        self._body = body or {}
        self.headers = headers or {}
        self.content = content

    def json(self):
        return self._body


class FakeTransport:
    def __init__(self, routes):
        self.routes = routes  # url -> list[FakeResp] popped in order
        self.calls = []

    def _serve(self, method, url, **kw):
        self.calls.append((method, url, kw))
        handler = self.routes[url]
        if isinstance(handler, list):
            return handler.pop(0)
        return handler

    def get(self, url, **kw):
        return self._serve("get", url, **kw)

    def post(self, url, **kw):
        return self._serve("post", url, **kw)

    def delete(self, url, **kw):
        return self._serve("delete", url, **kw)


TOKEN_URL = "https://login.microsoftonline.com/tid/oauth2/v2.0/token"


def auth_with(transport):
    return GraphAuth("tid", "cid", "secret", transport=transport)


def test_token_refresh_on_expiry():
    t = FakeTransport(
        {TOKEN_URL: [
            FakeResp(200, {"access_token": "tok1", "expires_in": 100}),
            FakeResp(200, {"access_token": "tok2", "expires_in": 3600}),
        ]}
    )
    a = auth_with(t)
    assert a.token(now=1000.0) == "tok1"
    assert a.token(now=1010.0) == "tok1"  # cached
    # within 60s of expiry → refresh (reference never refreshes, :261)
    assert a.token(now=1041.0) == "tok2"


def test_listing_pagination_and_file_filter():
    base = "https://graph.microsoft.com/v1.0/drives/d1/root:/reports:/children"
    page2 = base + "?page=2"
    t = FakeTransport(
        {
            TOKEN_URL: FakeResp(200, {"access_token": "tok", "expires_in": 3600}),
            base: FakeResp(200, {
                "value": [
                    {"name": "a.csv", "file": {}, "size": 10, "@microsoft.graph.downloadUrl": "https://dl/a"},
                    {"name": "subfolder", "folder": {}},
                ],
                "@odata.nextLink": page2,
            }),
            page2: FakeResp(200, {"value": [
                {"name": "b.csv", "file": {}, "size": 20, "@microsoft.graph.downloadUrl": "https://dl/b"},
            ]}),
        }
    )
    c = SharePointClient(auth_with(t), transport=t)
    rows = c.manifest_rows("d1", ["reports"])
    assert [r["file_name"] for r in rows] == ["a.csv", "b.csv"]  # folder filtered (A-9)
    assert rows[0]["file_path"] == "https://dl/a"
    assert rows[1]["size_bytes"] == 20


def test_retry_backoff_on_429(monkeypatch):
    import ingest_sharepoint_file_to_fabric_lakehouse_spark.sources.sharepoint as sp

    sleeps = []
    monkeypatch.setattr(sp.time, "sleep", sleeps.append)
    url = "https://graph.microsoft.com/v1.0/sites/h:/sites/p"
    t = FakeTransport(
        {
            TOKEN_URL: FakeResp(200, {"access_token": "tok", "expires_in": 3600}),
            url: [
                FakeResp(429, headers={"Retry-After": "3"}),
                FakeResp(503),
                FakeResp(200, {"id": "site-123"}),
            ],
        }
    )
    c = SharePointClient(auth_with(t), transport=t)
    assert c.get_site_id("h", "p") == "site-123"
    assert sleeps == [3.0, 2.0]  # Retry-After honored, then doubled base


def test_drive_selection_skips_teams_wiki():
    url = "https://graph.microsoft.com/v1.0/sites/s1/drives"
    t = FakeTransport(
        {
            TOKEN_URL: FakeResp(200, {"access_token": "tok", "expires_in": 3600}),
            url: FakeResp(200, {"value": [
                {"name": "Teams Wiki Data", "id": "wiki"},
                {"name": "Documents", "id": "docs"},
            ]}),
        }
    )
    c = SharePointClient(auth_with(t), transport=t)
    assert c.get_document_drive_id("s1") == "docs"  # A-8 (:66)


def test_download_batch_dead_letters_failures():
    t = FakeTransport(
        {
            "https://dl/ok": FakeResp(200, content=b"data"),
            "https://dl/bad": FakeResp(404),
        }
    )
    out = download_batch(["https://dl/ok", "https://dl/bad"], transport=t)
    assert out == [b"data", None]  # None → dead-letter row (A-21), no raise
