"""AWS Glue Data Catalog client for the metadata plane (SURVEY §2.1
S2/S5/S6/S7, Glue mode) — no AWS SDK required.

Reference behavior: hielo connects to Glue via the iceberg-rust crate's
Glue catalog (catalog.rs:188-246 — warehouse, region with us-east-1
fallback at catalog.rs:227-237, optional profile/endpoint). The Glue
data plane is a public JSON protocol: POST to the regional endpoint
with ``X-Amz-Target: AWSGlue.<Operation>`` and
``Content-Type: application/x-amz-json-1.1``, authenticated with AWS
Signature Version 4 (both are published AWS specifications). This
module implements exactly that with stdlib urllib/hmac/hashlib — the
same offline-evidence pattern catalog/rest.py proved for the REST
protocol: speak the public wire format, test against an in-process
endpoint that *cryptographically verifies* the signature.

Iceberg-in-Glue convention (public Iceberg docs): a Glue table is an
Iceberg table iff its ``Parameters["table_type"] == "ICEBERG"``; the
pointer to the current table-metadata document is
``Parameters["metadata_location"]``. Loading that document feeds the
shared no-jar metadata plane (metadata_json.snapshot_rows_from_doc →
timeline/health; manifest-list paths → manifests.py → files), so every
snapshot operator runs on Glue-discovered tables unchanged.

Driver-side HTTP by design: catalog listing is control-plane traffic
(a page of databases/tables per round-trip), same as rest.py.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import hmac
import json
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..io import local_frame

_ALGO = "AWS4-HMAC-SHA256"
_SERVICE = "glue"


def _sha256_hex(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _hmac(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode("utf-8"), hashlib.sha256).digest()


def sigv4_headers(
    method: str,
    url: str,
    body: bytes,
    region: str,
    access_key: str,
    secret_key: str,
    headers: dict[str, str],
    service: str = _SERVICE,
    session_token: str | None = None,
    now: _dt.datetime | None = None,
) -> dict[str, str]:
    """AWS Signature Version 4 for a single request (public AWS spec:
    canonical request → string-to-sign → derived signing key →
    Authorization header). Returns the headers to add; ``now`` is
    injectable for deterministic tests."""
    now = now or _dt.datetime.now(_dt.timezone.utc)
    amz_date = now.strftime("%Y%m%dT%H%M%SZ")
    date_stamp = now.strftime("%Y%m%d")
    parsed = urllib.parse.urlparse(url)
    host = parsed.netloc
    canonical_uri = urllib.parse.quote(parsed.path or "/", safe="/")
    # canonical query: sorted by key, strict RFC3986 encoding
    q = urllib.parse.parse_qsl(parsed.query, keep_blank_values=True)
    canonical_query = "&".join(
        f"{urllib.parse.quote(k, safe='-_.~')}={urllib.parse.quote(v, safe='-_.~')}"
        for k, v in sorted(q)
    )

    to_sign = {"host": host, "x-amz-date": amz_date}
    for k, v in headers.items():
        if k.lower() in ("content-type", "x-amz-target"):
            to_sign[k.lower()] = v.strip()
    if session_token:
        to_sign["x-amz-security-token"] = session_token
    signed_names = ";".join(sorted(to_sign))
    canonical_headers = "".join(f"{k}:{to_sign[k]}\n" for k in sorted(to_sign))
    payload_hash = _sha256_hex(body)
    canonical_request = "\n".join(
        [method, canonical_uri, canonical_query, canonical_headers, signed_names, payload_hash]
    )
    scope = f"{date_stamp}/{region}/{service}/aws4_request"
    string_to_sign = "\n".join(
        [_ALGO, amz_date, scope, _sha256_hex(canonical_request.encode())]
    )
    k_date = _hmac(f"AWS4{secret_key}".encode(), date_stamp)
    k_region = _hmac(k_date, region)
    k_service = _hmac(k_region, service)
    k_signing = _hmac(k_service, "aws4_request")
    signature = hmac.new(k_signing, string_to_sign.encode(), hashlib.sha256).hexdigest()

    out = {
        "X-Amz-Date": amz_date,
        "Authorization": (
            f"{_ALGO} Credential={access_key}/{scope}, "
            f"SignedHeaders={signed_names}, Signature={signature}"
        ),
    }
    if session_token:
        out["X-Amz-Security-Token"] = session_token
    return out


class GlueCatalogClient:
    """S2 — the Glue data-plane calls the reference's catalog mode needs
    (GetDatabases/GetTables/GetTable), sigv4-signed, paginated."""

    def __init__(
        self,
        region: str = "us-east-1",
        access_key: str = "",
        secret_key: str = "",
        session_token: str | None = None,
        endpoint: str | None = None,
        timeout: float = 30.0,
    ):
        self.region = region
        self.access_key = access_key
        self.secret_key = secret_key
        self.session_token = session_token
        self.endpoint = (endpoint or f"https://glue.{region}.amazonaws.com").rstrip("/")
        self.timeout = timeout

    # -- transport ---------------------------------------------------------

    def _call(self, operation: str, payload: dict) -> dict:
        body = json.dumps(payload).encode("utf-8")
        headers = {
            "Content-Type": "application/x-amz-json-1.1",
            "X-Amz-Target": f"AWSGlue.{operation}",
        }
        headers.update(
            sigv4_headers(
                "POST", self.endpoint + "/", body, self.region,
                self.access_key, self.secret_key, headers,
                session_token=self.session_token,
            )
        )
        req = urllib.request.Request(self.endpoint + "/", data=body, headers=headers, method="POST")
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return json.loads(resp.read().decode("utf-8"))

    # -- catalog operations ------------------------------------------------

    def test_connection(self) -> bool:
        """S4 — one GetDatabases page proves endpoint + credentials."""
        self._call("GetDatabases", {"MaxResults": 1})
        return True

    def get_databases(self) -> list[str]:
        """S5 — database (namespace) names, following NextToken."""
        out: list[str] = []
        token: str | None = None
        while True:
            payload: dict = {}
            if token:
                payload["NextToken"] = token
            doc = self._call("GetDatabases", payload)
            out.extend(d["Name"] for d in doc.get("DatabaseList", []))
            token = doc.get("NextToken")
            if not token:
                return out

    def get_tables(self, database: str) -> list[dict]:
        """S6 — table documents in one database (paginated)."""
        out: list[dict] = []
        token: str | None = None
        while True:
            payload = {"DatabaseName": database}
            if token:
                payload["NextToken"] = token
            doc = self._call("GetTables", payload)
            out.extend(doc.get("TableList", []))
            token = doc.get("NextToken")
            if not token:
                return out

    def get_table(self, database: str, name: str) -> dict:
        """S7 — one table document."""
        return self._call("GetTable", {"DatabaseName": database, "Name": name})["Table"]

    def update_table_metadata_location(
        self, database: str, name: str, new_location: str, version_id: str
    ) -> dict:
        """Iceberg-on-Glue commit: UpdateTable flips
        ``Parameters.metadata_location`` (previous value preserved under
        ``previous_metadata_location``, the public convention), guarded
        by Glue's optimistic ``VersionId`` lock — a stale version
        surfaces ConcurrentModificationException, mapped to the same
        CommitConflictError the REST commit plane raises."""
        import urllib.error

        from .rest import CommitConflictError

        table = self.get_table(database, name)
        params = dict(table.get("Parameters", {}))
        prev = params.get("metadata_location")
        params["metadata_location"] = new_location
        if prev:
            params["previous_metadata_location"] = prev
        # Glue UpdateTable REPLACES the whole definition: every writable
        # field of the current table must be carried into TableInput or
        # it is dropped (StorageDescriptor/schema loss on real Glue).
        # Copy everything except the read-only/response-only fields.
        _READ_ONLY = {
            "DatabaseName", "CreateTime", "UpdateTime", "CreatedBy",
            "IsRegisteredWithLakeFormation", "CatalogId", "VersionId",
            "FederatedTable", "IsMultiDialectView", "Status",
        }
        table_input = {k: v for k, v in table.items() if k not in _READ_ONLY}
        table_input["Name"] = name
        table_input["Parameters"] = params
        try:
            return self._call(
                "UpdateTable",
                {
                    "DatabaseName": database,
                    "TableInput": table_input,
                    "VersionId": version_id,
                },
            )
        except urllib.error.HTTPError as e:
            body = e.read().decode("utf-8", "replace")
            if "ConcurrentModificationException" in body:
                raise CommitConflictError(
                    f"Glue table {database}.{name} moved past version "
                    f"{version_id}: {body}"
                ) from e
            raise

    # -- DataFrame surfaces ------------------------------------------------

    @staticmethod
    def _is_iceberg(table_doc: dict) -> bool:
        """Public Iceberg-in-Glue convention: Parameters.table_type."""
        return (
            table_doc.get("Parameters", {}).get("table_type", "").upper() == "ICEBERG"
        )

    def catalog_tree(self, spark: SparkSession, catalog_name: str) -> DataFrame:
        """Browse/search frame from one listing pass — table_type comes
        from the table document's Parameters (never the N+1 full
        metadata loads of catalog.rs:342-360)."""
        rows = [
            (catalog_name, db, t["Name"],
             "iceberg" if self._is_iceberg(t) else "unknown")
            for db in self.get_databases()
            for t in self.get_tables(db)
        ]
        df = local_frame(
            spark,
            rows,
            "catalog_name string, namespace string, table_name string, table_type string",
        )
        return df.select(
            "catalog_name",
            "namespace",
            "table_name",
            F.concat_ws(".", "catalog_name", "namespace", "table_name").alias("full_name"),
            "table_type",
        )

    def metadata_location(self, database: str, name: str) -> str:
        """The table's current metadata.json pointer."""
        doc = self.get_table(database, name)
        loc = doc.get("Parameters", {}).get("metadata_location")
        if not loc:
            raise ValueError(f"{database}.{name} has no metadata_location (not an Iceberg table?)")
        return loc

    def snapshots(self, spark: SparkSession, database: str, name: str) -> DataFrame:
        """A Glue table's canonical snapshots frame: GetTable →
        metadata_location → table-metadata document → shared plane.
        (Local/file locations readable here; s3:// needs object-store
        credentials — same boundary as every other metadata read.)"""
        from ..metadata.metadata_json import snapshots_from_metadata_json

        loc = self.metadata_location(database, name).removeprefix("file:")
        return snapshots_from_metadata_json(spark, f"{database}.{name}", loc)


def client_from_profile(profile) -> GlueCatalogClient:
    """Build a client from a catalog.profiles.CatalogProfile of type
    'glue' (region default us-east-1 mirrors catalog.rs:227-237)."""
    if profile.catalog_type != "glue":
        raise ValueError(f"Glue client requires a glue profile, got {profile.catalog_type!r}")
    cfg = profile.config
    return GlueCatalogClient(
        region=cfg.get("region", "us-east-1"),
        access_key=cfg.get("access_key", ""),
        secret_key=cfg.get("secret", ""),
        session_token=cfg.get("session_token"),
        endpoint=cfg.get("endpoint"),
    )
