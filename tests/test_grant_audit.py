"""Offline tests of the A-24 grant/audit setup utility
(setup/grant_audit.py) via fake transport — grant idempotence, access
probe, paginated tenant listing, and the semi-join audit DataFrame."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from setup.grant_audit import (  # noqa: E402
    grant_write,
    granted_app_ids,
    list_tenant_sites,
    probe_access,
    site_access_audit,
)
from ingest_sharepoint_file_to_fabric_lakehouse_spark.sources.sharepoint import (  # noqa: E402
    SharePointClient,
)
from tests.test_sharepoint import FakeResp, FakeTransport, TOKEN_URL, auth_with  # noqa: E402

G = "https://graph.microsoft.com/v1.0"
TOK = {TOKEN_URL: FakeResp(200, {"access_token": "tok", "expires_in": 3600})}


def perms_body(*app_ids):
    return {
        "value": [
            {"roles": ["write"], "grantedToIdentitiesV2": [{"application": {"id": a}}]}
            for a in app_ids
        ]
    }


def client_with(routes):
    t = FakeTransport({**TOK, **routes})
    return SharePointClient(auth_with(t), transport=t), t


def test_granted_app_ids_reads_v2_grantees():
    c, _ = client_with({f"{G}/sites/s1/permissions": FakeResp(200, perms_body("app-a", "app-b"))})
    assert granted_app_ids(c, "s1") == ["app-a", "app-b"]


def test_grant_write_posts_only_when_absent():
    c, t = client_with(
        {
            f"{G}/sites/s1/permissions": [
                FakeResp(200, perms_body("other-app")),  # check → absent
                FakeResp(201, {}),  # grant POST
                FakeResp(200, perms_body("other-app", "app-new")),  # re-check → present
            ]
        }
    )
    assert grant_write(c, "s1", "app-new", "My App") is True
    post = [call for call in t.calls if call[0] == "post"][-1]
    assert post[2]["json"]["roles"] == ["write"]
    assert post[2]["json"]["grantedToIdentities"][0]["application"]["id"] == "app-new"
    # second call: grant exists → idempotent no-op, no further POST
    assert grant_write(c, "s1", "app-new", "My App") is False
    assert len([call for call in t.calls if call[0] == "post" and "permissions" in call[1]]) == 1


def test_probe_access():
    c, _ = client_with({f"{G}/sites/s1": FakeResp(200, {"id": "s1"})})
    assert probe_access(c, "s1") is True
    c2, _ = client_with({f"{G}/sites/s2": FakeResp(403, {})})
    assert probe_access(c2, "s2") is False


def test_list_tenant_sites_paginates():
    page2 = f"{G}/sites?search=*&page=2"
    c, _ = client_with(
        {
            f"{G}/sites?search=*": FakeResp(
                200, {"value": [{"id": "s1", "name": "alpha"}], "@odata.nextLink": page2}
            ),
            page2: FakeResp(200, {"value": [{"id": "s2", "name": "beta"}]}),
        }
    )
    sites = list_tenant_sites(c)
    assert [s["id"] for s in sites] == ["s1", "s2"]  # reference reads page 1 only


def test_site_access_audit_semi_join(spark):
    c, t = client_with(
        {
            f"{G}/sites?search=*": FakeResp(
                200,
                {
                    "value": [
                        {"id": "s1", "name": "alpha", "lastModifiedDateTime": "2024-01-01", "webUrl": "https://sp/a"},
                        {"id": "s2", "name": "beta", "lastModifiedDateTime": "2024-02-01", "webUrl": "https://sp/b"},
                        {"id": "s3", "name": "gamma", "lastModifiedDateTime": "2024-03-01", "webUrl": "https://sp/c"},
                    ]
                },
            ),
            f"{G}/sites/s1/permissions": FakeResp(200, perms_body("target-app")),
            f"{G}/sites/s2/permissions": FakeResp(200, perms_body("other-app")),
            f"{G}/sites/s3/permissions": FakeResp(200, {"value": []}),
        }
    )
    rows = site_access_audit(spark, c, "target-app").collect()
    assert [(r.name, r.accessible) for r in rows] == [
        ("alpha", "Yes"),
        ("beta", "No"),
        ("gamma", "No"),
    ]
    assert rows[0].webUrl == "https://sp/a"
