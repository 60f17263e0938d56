"""REST catalog client (catalog/rest.py) against an in-process HTTP
server speaking the public Iceberg REST-catalog protocol: pagination,
Bearer-token enforcement, namespace/table listing, and a load-table
response whose metadata document drives the snapshot operators."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from hielo_spark.catalog.profiles import CatalogProfile
from hielo_spark.catalog.rest import RestCatalogClient, client_from_profile

TOKEN = "sekrit-token"

METADATA_DOC = {
    "format-version": 2,
    "snapshots": [
        {"snapshot-id": 41, "timestamp-ms": 1700000000000, "schema-id": 0,
         "manifest-list": "s3://w/meta/snap-41.avro",
         "summary": {"operation": "append", "added-records": "10"}},
        {"snapshot-id": 42, "timestamp-ms": 1700086400000, "schema-id": 1,
         "manifest-list": "s3://w/meta/snap-42.avro",
         "summary": {"operation": "delete", "deleted-records": "3"}},
    ],
}


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet
        pass

    def _send(self, code: int, doc: dict) -> None:
        body = json.dumps(doc).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802 (http.server API)
        if self.headers.get("Authorization") != f"Bearer {TOKEN}":
            return self._send(401, {"error": "unauthorized"})
        u = urlparse(self.path)
        q = parse_qs(u.query)
        if u.path == "/v1/config":
            return self._send(200, {"defaults": {}, "overrides": {}})
        if u.path == "/v1/namespaces":
            # two pages to exercise pagination
            if q.get("pageToken") == ["p2"]:
                return self._send(200, {"namespaces": [["raw", "logs"]]})
            return self._send(
                200, {"namespaces": [["analytics"]], "next-page-token": "p2"}
            )
        if u.path == "/v1/namespaces/analytics/tables":
            return self._send(
                200,
                {"identifiers": [
                    {"namespace": ["analytics"], "name": "orders_t"},
                    {"namespace": ["analytics"], "name": "parts_t"},
                ]},
            )
        if u.path == "/v1/namespaces/raw%1Flogs/tables" or u.path == "/v1/namespaces/raw\x1flogs/tables":
            return self._send(
                200, {"identifiers": [{"namespace": ["raw", "logs"], "name": "events_t"}]}
            )
        # a SINGLE namespace level containing a literal dot — only
        # reachable when the client carries namespaces as parts, never
        # via dotted-string splitting (which would mis-segment to
        # dotted%1Fname)
        if u.path in ("/v1/namespaces/dotted.name/tables", "/v1/namespaces/dotted%2Ename/tables"):
            return self._send(
                200, {"identifiers": [{"namespace": ["dotted.name"], "name": "weird_t"}]}
            )
        if u.path == "/v1/namespaces/analytics/tables/orders_t":
            return self._send(
                200,
                {"metadata-location": "s3://w/meta/v3.metadata.json",
                 "metadata": METADATA_DOC},
            )
        return self._send(404, {"error": f"no route {self.path}"})


@pytest.fixture(scope="module")
def rest_server():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_connection_and_auth(rest_server):
    ok = RestCatalogClient(rest_server, token=TOKEN)
    assert ok.test_connection()
    import urllib.error

    with pytest.raises(urllib.error.HTTPError):
        RestCatalogClient(rest_server, token="wrong").list_namespaces()


def test_listing_with_pagination(rest_server):
    c = RestCatalogClient(rest_server, token=TOKEN)
    assert c.list_namespaces() == ["analytics", "raw.logs"]
    assert c.list_tables("analytics") == ["orders_t", "parts_t"]
    assert c.list_tables("raw.logs") == ["events_t"]


def test_namespace_level_with_literal_dot(rest_server):
    """ADVICE r3: a namespace LEVEL containing a '.' must not be
    re-split into two levels on the URL path — tuples are the lossless
    identity; the dotted string is display only."""
    c = RestCatalogClient(rest_server, token=TOKEN)
    assert c.list_tables(("dotted.name",)) == ["weird_t"]
    # the tuple primitive is what catalog_tree consumes
    assert c._ns_parts(("dotted.name",)) == ("dotted.name",)
    assert c._ns_parts("raw.logs") == ("raw", "logs")


def test_catalog_tree_and_search(spark, rest_server):
    from hielo_spark.catalog.browse import search

    c = RestCatalogClient(rest_server, token=TOKEN)
    tree = c.catalog_tree(spark, "prod")
    assert tree.count() == 3
    hit = search(tree, "orders").collect()
    assert [r.full_name for r in hit] == ["prod.analytics.orders_t"]


def test_load_table_snapshots_drive_meta_operators(spark, rest_server):
    from hielo_spark.metadata import snapshots as snap

    c = RestCatalogClient(rest_server, token=TOKEN)
    snaps = c.snapshots(spark, "analytics", "orders_t")
    assert snaps.count() == 2
    latest = snap.latest_snapshot(snaps).collect()[0]
    assert latest.snapshot_id == 42 and latest.schema_id == 1
    ops = {r.operation: r.n for r in snap.operation_counts(snaps).collect()}
    assert ops == {"append": 1, "delete": 1}


def test_client_from_profile(rest_server):
    p = CatalogProfile(
        name="prod", catalog_type="rest",
        config={"uri": rest_server, "auth_token": TOKEN, "warehouse": "s3://w"},
    )
    c = client_from_profile(p)
    assert c.test_connection()
    assert c.list_tables("analytics") == ["orders_t", "parts_t"]


# ---------------------------------------------------------- commit plane


def _stateful_server():
    """A second in-process server whose orders_t metadata is MUTABLE:
    do_POST implements the spec's CommitTableRequest with requirement
    checking (assert-ref-snapshot-id → 409 on mismatch)."""
    import copy

    state = {"doc": copy.deepcopy(METADATA_DOC), "main": 42}

    class _CommitHandler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _send(self, code, doc):
            body = json.dumps(doc).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.headers.get("Authorization") != f"Bearer {TOKEN}":
                return self._send(401, {"error": "unauthorized"})
            u = urlparse(self.path)
            if u.path == "/v1/config":
                return self._send(200, {"defaults": {}, "overrides": {}})
            if u.path == "/v1/namespaces/analytics/tables/orders_t":
                return self._send(
                    200,
                    {"metadata-location": "s3://w/meta/head.metadata.json",
                     "metadata": state["doc"]},
                )
            return self._send(404, {"error": self.path})

        def do_POST(self):
            if self.headers.get("Authorization") != f"Bearer {TOKEN}":
                return self._send(401, {"error": "unauthorized"})
            u = urlparse(self.path)
            if u.path != "/v1/namespaces/analytics/tables/orders_t":
                return self._send(404, {"error": self.path})
            ln = int(self.headers.get("Content-Length", 0))
            req = json.loads(self.rfile.read(ln).decode())
            for r in req.get("requirements", []):
                if r.get("type") == "assert-ref-snapshot-id" and r.get("ref") == "main":
                    if state["main"] != r.get("snapshot-id"):
                        return self._send(
                            409,
                            {"error": f"ref main is at {state['main']}, "
                                      f"required {r.get('snapshot-id')}"},
                        )
            for r in req.get("requirements", []):
                if r.get("type") == "assert-current-schema-id":
                    have = state["doc"].get("current-schema-id", 0)
                    if have != r.get("current-schema-id"):
                        return self._send(
                            409,
                            {"error": f"current schema is {have}, "
                                      f"required {r.get('current-schema-id')}"},
                        )
            last_added_schema_id = None
            for up in req.get("updates", []):
                if up["action"] == "add-snapshot":
                    state["doc"]["snapshots"].append(up["snapshot"])
                elif up["action"] == "set-snapshot-ref" and up["ref-name"] == "main":
                    state["main"] = up["snapshot-id"]
                    state["doc"]["current-snapshot-id"] = up["snapshot-id"]
                elif up["action"] == "add-schema":
                    state["doc"].setdefault("schemas", []).append(up["schema"])
                    last_added_schema_id = up["schema"].get("schema-id")
                elif up["action"] == "set-current-schema":
                    sid = up["schema-id"]
                    # spec sentinel -1 = the schema added in this commit
                    state["doc"]["current-schema-id"] = (
                        last_added_schema_id if sid == -1 else sid
                    )
                elif up["action"] == "set-statistics":
                    st = [
                        e for e in state["doc"].get("statistics", [])
                        if e.get("snapshot-id") != up["snapshot-id"]
                    ]
                    state["doc"]["statistics"] = st + [up["statistics"]]
                elif up["action"] == "remove-statistics":
                    state["doc"]["statistics"] = [
                        e for e in state["doc"].get("statistics", [])
                        if e.get("snapshot-id") != up["snapshot-id"]
                    ]
                elif up["action"] == "remove-properties":
                    props = state["doc"].setdefault("properties", {})
                    for k in up["removals"]:
                        props.pop(k, None)
                elif up["action"] == "set-properties":
                    state["doc"].setdefault("properties", {}).update(
                        up["updates"]
                    )
            return self._send(
                200,
                {"metadata-location": "s3://w/meta/head2.metadata.json",
                 "metadata": state["doc"]},
            )

    srv = HTTPServer(("127.0.0.1", 0), _CommitHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_port}", state


def test_commit_append_snapshot_and_conflict(spark):
    from hielo_spark.catalog.rest import CommitConflictError

    srv, uri, state = _stateful_server()
    try:
        client = RestCatalogClient(uri, token=TOKEN)
        new_snap = {
            "snapshot-id": 43,
            "parent-snapshot-id": 42,
            "sequence-number": 3,
            "timestamp-ms": 1700172800000,
            "manifest-list": "s3://w/meta/snap-43.avro",
            "schema-id": 1,
            "summary": {"operation": "append", "added-records": "5"},
        }
        out = client.commit_append_snapshot("analytics", "orders_t", new_snap, 42)
        assert state["main"] == 43
        ids = [s["snapshot-id"] for s in out["metadata"]["snapshots"]]
        assert ids == [41, 42, 43]

        # the committed table drives the same snapshot operators
        snaps = client.snapshots(spark, "analytics", "orders_t")
        assert snaps.count() == 3

        # stale parent → spec 409 → CommitConflictError, state unchanged
        stale = dict(new_snap, **{"snapshot-id": 44})
        with pytest.raises(CommitConflictError):
            client.commit_append_snapshot("analytics", "orders_t", stale, 42)
        assert state["main"] == 43
        assert len(state["doc"]["snapshots"]) == 3
    finally:
        srv.shutdown()


def test_commit_requires_auth(spark):
    srv, uri, state = _stateful_server()
    try:
        import urllib.error

        client = RestCatalogClient(uri, token="wrong")
        with pytest.raises(urllib.error.HTTPError):
            client.commit_append_snapshot(
                "analytics", "orders_t",
                {"snapshot-id": 99, "timestamp-ms": 1, "manifest-list": "x",
                 "summary": {}}, 42,
            )
        assert state["main"] == 42
    finally:
        srv.shutdown()


def test_commit_schema_update_and_conflict(spark):
    """r7: schema evolution over the REST protocol — add-schema +
    set-current-schema(-1 sentinel) behind assert-current-schema-id,
    with the 409 conflict surfaced as CommitConflictError."""
    from hielo_spark.catalog.rest import CommitConflictError

    srv, uri, state = _stateful_server()
    try:
        client = RestCatalogClient(uri, token=TOKEN)
        base_sid = state["doc"].get("current-schema-id", 0)
        new_schema = {
            "type": "struct", "schema-id": base_sid + 1,
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 9, "name": "added", "required": False,
                 "type": "double"},
            ],
        }
        client.commit_schema_update(
            "analytics", "orders_t", new_schema,
            expected_current_schema_id=base_sid,
        )
        assert state["doc"]["current-schema-id"] == base_sid + 1
        assert state["doc"]["schemas"][-1]["schema-id"] == base_sid + 1

        # a second evolution asserting the STALE schema id conflicts
        with pytest.raises(CommitConflictError):
            client.commit_schema_update(
                "analytics", "orders_t", new_schema,
                expected_current_schema_id=base_sid,
            )
    finally:
        srv.shutdown()


def test_commit_statistics_over_rest(spark):
    """r7: Puffin statistics entries over the REST protocol —
    set-statistics replaces per snapshot, remove-statistics drops, and
    a stale main-ref assertion conflicts."""
    from hielo_spark.catalog.rest import CommitConflictError

    srv, uri, state = _stateful_server()
    try:
        client = RestCatalogClient(uri, token=TOKEN)
        main = state["main"]
        entry = {
            "snapshot-id": main,
            "statistics-path": "s3://w/meta/s.puffin",
            "file-size-in-bytes": 123,
            "file-footer-size-in-bytes": 40,
            "blob-metadata": [
                {"type": "hielo-kmv-theta-v1", "fields": [1],
                 "snapshot-id": main, "sequence-number": 1,
                 "properties": {"ndv": "42"}}
            ],
        }
        client.commit_statistics(
            "analytics", "orders_t", entry, expected_ref_snapshot_id=main
        )
        assert state["doc"]["statistics"] == [entry]
        # same snapshot again: replaced, not duplicated
        entry2 = dict(entry, **{"file-size-in-bytes": 456})
        client.commit_statistics("analytics", "orders_t", entry2)
        assert state["doc"]["statistics"] == [entry2]
        # stale ref assertion conflicts
        with pytest.raises(CommitConflictError):
            client.commit_statistics(
                "analytics", "orders_t", entry,
                expected_ref_snapshot_id=main + 999,
            )
        client.remove_statistics("analytics", "orders_t", main)
        assert state["doc"]["statistics"] == []
    finally:
        srv.shutdown()


def test_rest_properties_commit():
    """set-properties / remove-properties over the REST protocol:
    one commit can carry both (removals applied first per the spec's
    update ordering); empty commits refuse locally."""
    srv, uri, state = _stateful_server()
    try:
        client = RestCatalogClient(uri, token=TOKEN)
        client.commit_properties(
            "analytics", "orders_t",
            set_props={"write.target-size": "134217728", "owner": "etl"},
        )
        assert state["doc"]["properties"]["owner"] == "etl"
        # removal + set in one commit; values stringified
        client.commit_properties(
            "analytics", "orders_t",
            set_props={"owner": "analytics"}, remove=["write.target-size"],
        )
        assert state["doc"]["properties"] == {"owner": "analytics"}
        import pytest as _pytest

        with _pytest.raises(ValueError, match="nothing to commit"):
            client.commit_properties("analytics", "orders_t")
    finally:
        srv.shutdown()


def test_snapshot_instants_ignore_process_timezone(
    spark, rest_server, tmp_path, monkeypatch
):
    """``committed_at`` is the snapshot's ``timestamp-ms`` instant under
    any process time zone: the session zone is UTC, and the frame must
    not shift by the process's local offset (a +5 h shift under New York
    time would move every health window with it)."""
    import time

    from hielo_spark.metadata.metadata_json import snapshots_from_metadata_json

    path = tmp_path / "v1.metadata.json"
    path.write_text(json.dumps(METADATA_DOC))
    expected = {
        s["snapshot-id"]: s["timestamp-ms"] for s in METADATA_DOC["snapshots"]
    }
    client = RestCatalogClient(rest_server, token=TOKEN)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        frames = [
            snapshots_from_metadata_json(spark, "analytics.orders_t", str(path)),
            client.snapshots(spark, "analytics", "orders_t"),
        ]
        for df in frames:
            got = {
                r.snapshot_id: r.ms
                for r in df.selectExpr(
                    "snapshot_id", "unix_millis(committed_at) AS ms"
                ).collect()
            }
            assert got == expected
    finally:
        monkeypatch.undo()
        time.tzset()
