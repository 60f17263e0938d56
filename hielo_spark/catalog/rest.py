"""Iceberg REST catalog client for the metadata plane (SURVEY §2.1
S1/S4/S5/S6, REST mode) — no runtime jar required.

The REST catalog protocol is public HTTP+JSON
(https://iceberg.apache.org/spec/ — the rest-catalog-open-api spec):
list namespaces, list tables, load table. Spark's SQL integration of a
REST catalog needs the iceberg-spark runtime (jar-gated here), but the
BROWSING and metadata surfaces the reference is built around
(catalog.rs:381-430) only need this client: a load-table response
carries the full table-metadata document, which feeds the no-jar
metadata plane directly (metadata_json.snapshot_rows_from_doc →
timeline/health; its manifest-list paths → manifests.py → files).

Driver-side HTTP by design: catalog listing is control-plane traffic (a
page of namespaces per round-trip). urllib only — no extra deps.

Credentials come from catalog.profiles.CatalogProfile (token → Bearer
header); sanitization rules there apply before any profile is logged.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..io import local_frame

#: multi-level namespace separator in URL paths, per the REST spec
NS_SEPARATOR = "\x1f"


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency failure: a commit requirement did not hold
    (HTTP 409 per the REST spec) — reload the table and retry."""


class RestCatalogClient:
    def __init__(
        self,
        uri: str,
        token: str | None = None,
        warehouse: str | None = None,
        prefix: str | None = None,
        timeout: float = 30.0,
    ):
        self.base = uri.rstrip("/")
        self.token = token
        self.warehouse = warehouse
        self.prefix = prefix.strip("/") if prefix else None
        self.timeout = timeout

    # -- transport ---------------------------------------------------------

    def _url(self, path: str, params: dict | None = None) -> str:
        parts = [self.base, "v1"]
        if self.prefix:
            parts.append(self.prefix)
        parts.append(path.lstrip("/"))
        url = "/".join(parts)
        if params:
            url += "?" + urllib.parse.urlencode(params)
        return url

    def _get(self, path: str, params: dict | None = None) -> dict:
        req = urllib.request.Request(self._url(path, params))
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return json.loads(resp.read().decode("utf-8"))

    def _post(self, path: str, doc: dict) -> dict:
        body = json.dumps(doc).encode("utf-8")
        req = urllib.request.Request(
            self._url(path), data=body, method="POST",
            headers={"Content-Type": "application/json"},
        )
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            if e.code == 409:
                raise CommitConflictError(
                    f"commit conflict on {path}: {e.read().decode('utf-8', 'replace')}"
                ) from e
            raise

    # -- commit plane (r4) -------------------------------------------------

    def commit_table(
        self, namespace, table: str, requirements: list[dict], updates: list[dict]
    ) -> dict:
        """POST the spec's CommitTableRequest: ``requirements`` are
        checked atomically against the server's current metadata (409 →
        CommitConflictError), ``updates`` are applied in order. Returns
        the server's {metadata-location, metadata}."""
        parts = self._ns_parts(namespace)
        ns = NS_SEPARATOR.join(parts)
        return self._post(
            f"namespaces/{urllib.parse.quote(ns, safe='')}/tables/"
            f"{urllib.parse.quote(table, safe='')}",
            {
                "identifier": {"namespace": list(parts), "name": table},
                "requirements": requirements,
                "updates": updates,
            },
        )

    def commit_append_snapshot(
        self, namespace, table: str, snapshot: dict, parent_snapshot_id: int | None
    ) -> dict:
        """Commit one snapshot the spec-shaped way: assert the main
        branch still points at ``parent_snapshot_id`` (None = table must
        have no current snapshot), add the snapshot, advance the ref.
        This is the catalog-service twin of the Hadoop-dir rename commit
        in metadata/commit.py — same artifacts, different atomicity
        primitive (server-side check-and-set instead of rename)."""
        requirements = [
            {
                "type": "assert-ref-snapshot-id",
                "ref": "main",
                "snapshot-id": parent_snapshot_id,
            }
        ]
        updates = [
            {"action": "add-snapshot", "snapshot": snapshot},
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": snapshot["snapshot-id"],
            },
        ]
        return self.commit_table(namespace, table, requirements, updates)

    def commit_schema_update(
        self,
        namespace,
        table: str,
        new_schema: dict,
        expected_current_schema_id: int | None = None,
    ) -> dict:
        """Commit a schema-evolution metadata update the spec-shaped way
        (the catalog-service twin of ``metadata.update_schema``): assert
        the current schema hasn't moved underneath us
        (``assert-current-schema-id`` → 409 CommitConflictError on a
        concurrent evolution), then ``add-schema`` + the
        ``set-current-schema`` sentinel -1 ("the schema just added",
        per the REST spec). ``new_schema`` is the full spec struct
        ``{"type": "struct", "schema-id": N, "fields": [...]}`` — derive
        it with the same field-id rules update_schema applies locally."""
        requirements = (
            [
                {
                    "type": "assert-current-schema-id",
                    "current-schema-id": expected_current_schema_id,
                }
            ]
            if expected_current_schema_id is not None
            else []
        )
        updates = [
            {"action": "add-schema", "schema": new_schema},
            {"action": "set-current-schema", "schema-id": -1},
        ]
        return self.commit_table(namespace, table, requirements, updates)

    def commit_statistics(
        self,
        namespace,
        table: str,
        statistics: dict,
        expected_ref_snapshot_id: int | None = None,
    ) -> dict:
        """Commit a Puffin statistics entry the spec-shaped way
        (``set-statistics`` — the catalog-service twin of
        ``metadata.write_statistics``'s local metadata edit).
        ``statistics`` is the spec struct metadata.json carries
        (snapshot-id / statistics-path / sizes / blob-metadata);
        ``expected_ref_snapshot_id`` optionally asserts main hasn't
        moved (statistics describe a specific snapshot — committing
        them after the table advanced is usually a bug)."""
        requirements = (
            [
                {
                    "type": "assert-ref-snapshot-id",
                    "ref": "main",
                    "snapshot-id": expected_ref_snapshot_id,
                }
            ]
            if expected_ref_snapshot_id is not None
            else []
        )
        updates = [
            {
                "action": "set-statistics",
                "snapshot-id": int(statistics["snapshot-id"]),
                "statistics": statistics,
            }
        ]
        return self.commit_table(namespace, table, requirements, updates)

    def remove_statistics(self, namespace, table: str, snapshot_id: int) -> dict:
        """The spec's ``remove-statistics`` update (expiry cleanup)."""
        return self.commit_table(
            namespace, table, [],
            [{"action": "remove-statistics", "snapshot-id": int(snapshot_id)}],
        )

    def commit_properties(
        self,
        namespace,
        table: str,
        set_props: dict[str, str] | None = None,
        remove: list[str] | None = None,
    ) -> dict:
        """Table-properties commit over the REST protocol — the
        catalog-service twin of ``metadata.set_table_properties``
        (spec updates ``set-properties`` / ``remove-properties``; one
        commit carries both, removals applied before sets per the
        spec's update ordering)."""
        updates: list[dict] = []
        if remove:
            updates.append(
                {"action": "remove-properties",
                 "removals": [str(k) for k in remove]}
            )
        if set_props:
            updates.append(
                {"action": "set-properties",
                 "updates": {str(k): str(v) for k, v in set_props.items()}}
            )
        if not updates:
            raise ValueError("nothing to commit: no properties to set/remove")
        return self.commit_table(namespace, table, [], updates)

    # -- catalog operations ------------------------------------------------

    def test_connection(self) -> bool:
        """S4 — config endpoint probe (GET /v1/config per spec)."""
        req = urllib.request.Request(f"{self.base}/v1/config")
        if self.token:
            req.add_header("Authorization", f"Bearer {self.token}")
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return resp.status == 200

    def list_namespace_tuples(self) -> list[tuple[str, ...]]:
        """S5 primitive — all namespaces as level tuples, following
        pagination ('next-page-token'). Tuples are the lossless identity
        (a level may itself contain a dot); the dotted string is display
        only."""
        out: list[tuple[str, ...]] = []
        token: str | None = None
        while True:
            params = {"pageToken": token} if token else None
            doc = self._get("namespaces", params)
            out.extend(tuple(ns) for ns in doc.get("namespaces", []))
            token = doc.get("next-page-token")
            if not token:
                return out

    def list_namespaces(self) -> list[str]:
        """S5 — namespaces in dotted display form."""
        return [".".join(ns) for ns in self.list_namespace_tuples()]

    @staticmethod
    def _ns_parts(namespace: str | tuple[str, ...] | list[str]) -> tuple[str, ...]:
        """Accept a namespace as level parts (lossless) or a dotted
        display string (split on '.' — fine unless a level contains a
        literal dot; pass the tuple from list_namespace_tuples then)."""
        if isinstance(namespace, (tuple, list)):
            return tuple(namespace)
        return tuple(namespace.split("."))

    def list_tables(self, namespace: str | tuple[str, ...] | list[str]) -> list[str]:
        """S6 — table names in one namespace (paginated)."""
        ns_path = urllib.parse.quote(
            NS_SEPARATOR.join(self._ns_parts(namespace)), safe=""
        )
        out: list[str] = []
        token: str | None = None
        while True:
            params = {"pageToken": token} if token else None
            doc = self._get(f"namespaces/{ns_path}/tables", params)
            out.extend(t["name"] for t in doc.get("identifiers", []))
            token = doc.get("next-page-token")
            if not token:
                return out

    def load_table(
        self, namespace: str | tuple[str, ...] | list[str], table: str
    ) -> dict:
        """S7 — LoadTableResult: {'metadata-location': ..., 'metadata':
        <table-metadata document>}."""
        ns_path = urllib.parse.quote(
            NS_SEPARATOR.join(self._ns_parts(namespace)), safe=""
        )
        return self._get(f"namespaces/{ns_path}/tables/{urllib.parse.quote(table, safe='')}")

    # -- DataFrame surfaces ------------------------------------------------

    def catalog_tree(self, spark: SparkSession, catalog_name: str) -> DataFrame:
        """The browse/search operators' catalog-tree frame, built from
        one listing pass (namespaces × their tables — never the N+1
        per-table metadata loads the reference does, catalog.rs:342-360)."""
        rows = [
            (catalog_name, ".".join(ns), t)
            for ns in self.list_namespace_tuples()
            for t in self.list_tables(ns)
        ]
        df = local_frame(
            spark, rows, "catalog_name string, namespace string, table_name string"
        )
        return df.select(
            "catalog_name",
            "namespace",
            "table_name",
            F.concat_ws(".", "catalog_name", "namespace", "table_name").alias("full_name"),
            F.lit("iceberg").alias("table_type"),
        )

    def snapshots(self, spark: SparkSession, namespace: str, table: str) -> DataFrame:
        """A live table's canonical snapshots frame, straight from the
        load-table response — every snapshot/timeline/health operator
        runs on it unchanged."""
        from ..metadata.fixtures import SNAPSHOT_SCHEMA
        from ..metadata.metadata_json import snapshot_rows_from_doc

        doc = self.load_table(namespace, table)
        meta = doc.get("metadata", {})
        return local_frame(
            spark, snapshot_rows_from_doc(f"{namespace}.{table}", meta), SNAPSHOT_SCHEMA
        )


def client_from_profile(profile) -> RestCatalogClient:
    """Build a client from a catalog.profiles.CatalogProfile (type must
    be 'rest'; Glue browsing needs the AWS SDK — still gated)."""
    if profile.catalog_type != "rest":
        raise ValueError(f"REST client requires a rest profile, got {profile.catalog_type!r}")
    cfg = profile.config
    return RestCatalogClient(
        uri=cfg["uri"],
        token=cfg.get("auth_token"),
        warehouse=cfg.get("warehouse"),
    )
