"""Table-ops workload: cycles of operations on a fresh no-jar Iceberg
table, checked against the benchmark's own row model.

Every cycle runs, in this order:
1. an append of a contiguous ``l_orderkey`` slice of lineitem through
   ``commit.append``;
2. a point-read step: one key read through ``manifests.read_table`` and
   through ``spark.read.format("hielo_iceberg")``;
3. an append through ``df.write.format("hielo_iceberg")``;
4. a ``commit.delete_where`` (merge-on-read position deletes) of one
   return flag in 100 keys of this cycle's appends;
5. a second point-read step, of a key in that range, so the delete file
   applies to it;
6. a scan step: a full-table summary through both read planes;
7. a dashboard refresh: ``snapshots_from_metadata_json`` then
   ``health_metrics`` / ``alerts`` / ``recommendations``, collected;
8. ``rewrite_data_files`` followed by ``expire_snapshots``, so metadata
   grows through a cycle and compaction resets it.

The seed picks the slice widths, the keys read, the delete ranges and
flags, and which plane reads first in a step.  The op order is fixed:
a read's cost depends on the delete files live when it runs, so a
seeded order would make the figures depend on the seed.

Before timing starts, a warm-up runs every op type once.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from .rowmodel import COLUMNS, SCAN_SUMMARY_SQL, LiveRows

#: op kind -> times per cycle (the weights of ``layers.pass_seconds``)
CYCLE = {
    "append": 1,
    "ds_append": 1,
    "point_read": 2,
    "ds_point_read": 2,
    "scan": 1,
    "ds_scan": 1,
    "delete": 1,
    "health_refresh": 1,
    "compact": 1,
}
T0_MS = 1_700_000_000_000
STEP_MS = 60_000


def _dir_bytes(path: str, sub: str | None = None) -> int:
    tot = 0
    for root, _, files in os.walk(path):
        if sub is not None and f"{os.sep}{sub}" not in root + os.sep:
            continue
        for f in files:
            tot += os.path.getsize(os.path.join(root, f))
    return tot


class TableOps:
    def __init__(self, ctx) -> None:
        import pyarrow.parquet as pq

        from hielo_spark import sources

        self.ctx = ctx
        self.spark = ctx.spark
        sources.register(self.spark)
        self.src_path = os.path.join(ctx.data_dir, "lineitem.parquet")
        self.model = LiveRows(pq.read_table(self.src_path))
        self.src = self.spark.read.parquet(self.src_path)
        self.table = os.path.join(ctx.tmp_dir, "table")
        shutil.rmtree(self.table, ignore_errors=True)
        self.rng = random.Random(ctx.seed)
        self.next_key = 0
        self.n_commits = 0

    # ---- helpers ---------------------------------------------------------
    def _stamp(self) -> tuple[int, int]:
        self.n_commits += 1
        return 1000 + self.n_commits, T0_MS + self.n_commits * STEP_MS

    def _doc(self, path: str | None = None) -> dict:
        from hielo_spark.metadata.commit import current_metadata_path

        with open(path or current_metadata_path(self.table)) as f:
            return json.load(f)

    def _current_summary(self) -> dict:
        doc = self._doc()
        cur = doc.get("current-snapshot-id")
        for s in doc.get("snapshots", []):
            if s["snapshot-id"] == cur:
                return s.get("summary", {})
        return {}

    def _commit_metadata(self, rec, before: int) -> None:
        rec["metadata_bytes"] = _dir_bytes(self.table, "metadata") - before
        rec["data_files"] = int(self._current_summary().get("added-data-files", 0))

    def _canon(self, df):
        import pyspark.sql.functions as F

        return df.select(
            *[F.col(c).cast("string").alias(c) if c == "l_shipdate" else F.col(c) for c in COLUMNS]
        )

    # ---- ops -------------------------------------------------------------
    def append(self, plane: str, measured: bool) -> None:
        from hielo_spark.metadata import commit

        width = self.rng.randint(150, 350)
        lo, hi = self.next_key, self.next_key + width
        self.next_key = hi
        sid, ts = self._stamp()
        meta0 = _dir_bytes(self.table, "metadata") if os.path.isdir(self.table) else 0
        df = self.src.where(f"l_orderkey >= {lo} AND l_orderkey < {hi}")
        kind = "append" if plane == "commit" else "ds_append"
        with self.ctx.op(kind, measured) as rec:
            if plane == "commit":
                commit.append(self.spark, self.table, df, snapshot_id=sid, timestamp_ms=ts)
            else:
                (df.write.format("hielo_iceberg").mode("append")
                   .option("snapshot-id", str(sid)).option("timestamp-ms", str(ts))
                   .save(self.table))
        if rec.get("error"):
            return
        n = self.model.append(lo, hi)
        self._commit_metadata(rec, meta0)
        summ = self._current_summary()
        self.ctx.verdict(rec, int(summ.get("added-records", -1)) == n,
                         f"{kind} [{lo},{hi}): summary added-records "
                         f"{summ.get('added-records')} vs {n} rows")

    def point_step(self, measured: bool, keys: range | None = None) -> None:
        """Read one key, drawn from ``keys`` (default: every appended key),
        through both planes."""
        keys = keys or range(0, self.next_key)
        k = self.rng.randrange(keys.start, keys.stop)
        planes = ["manifests", "sources"]
        self.rng.shuffle(planes)
        for plane in planes:
            self.point_read(plane, k, measured)

    def point_read(self, plane: str, k: int, measured: bool) -> None:
        from hielo_spark.metadata import manifests

        kind = "point_read" if plane == "manifests" else "ds_point_read"
        state = self._read_state()
        with self.ctx.op(kind, measured) as rec:
            t0 = time.perf_counter()
            with self.ctx.span(f"{plane}.build"):
                if plane == "manifests":
                    df = manifests.read_table(self.spark, self.table, where=("l_orderkey", "=", k))
                else:
                    df = (self.spark.read.format("hielo_iceberg").load(self.table)
                          .where(f"l_orderkey = {k}"))
                df = self._canon(df)
            rec["build_s"] = time.perf_counter() - t0
            with self.ctx.span(f"{plane}.exec"):
                rows = [tuple(r) for r in df.collect()]
        if rec.get("error"):
            return
        rec.update(state, rows_returned=len(rows))
        self.ctx.verdict(rec, self.model.check_point(k, rows),
                         f"{kind} key {k}: {len(rows)} rows vs model {len(self.model.rows_of(k))}")

    def scan_step(self, measured: bool) -> None:
        planes = ["manifests", "sources"]
        self.rng.shuffle(planes)
        for plane in planes:
            self.scan(plane, measured)

    def scan(self, plane: str, measured: bool) -> None:
        from hielo_spark.metadata import manifests

        kind = "scan" if plane == "manifests" else "ds_scan"
        state = self._read_state()
        with self.ctx.op(kind, measured) as rec:
            t0 = time.perf_counter()
            with self.ctx.span(f"{plane}.build"):
                if plane == "manifests":
                    df = manifests.read_table(self.spark, self.table)
                else:
                    df = self.spark.read.format("hielo_iceberg").load(self.table)
                df = df.selectExpr(*SCAN_SUMMARY_SQL)
            rec["build_s"] = time.perf_counter() - t0
            with self.ctx.span(f"{plane}.exec"):
                row = df.collect()[0]
        if rec.get("error"):
            return
        rec.update(state)
        self.ctx.verdict(rec, self.model.check_scan(tuple(row)),
                         f"{kind}: {tuple(row)} vs model {self.model.scan_summary()}")

    def delete(self, measured: bool, since: int = 0) -> range:
        """Delete one flag's rows in 100 keys appended at or after key
        ``since``; returns the key range."""
        from hielo_spark.metadata import commit

        lo = self.rng.randrange(since, max(since + 1, self.next_key - 100))
        hi = lo + 100
        flag = self.rng.choice(["R", "A", "N"])
        sid, ts = self._stamp()
        meta0 = _dir_bytes(self.table, "metadata")
        with self.ctx.op("delete", measured) as rec:
            snap = commit.delete_where(self.spark, self.table, LiveRows.delete_sql(lo, hi, flag),
                                       snapshot_id=sid, timestamp_ms=ts)
        if rec.get("error"):
            return range(lo, hi)
        n = self.model.delete(lo, hi, flag)
        self._commit_metadata(rec, meta0)
        got = int(self._current_summary().get("added-delete-records", -1)) if snap else 0
        self.ctx.verdict(rec, got == n, f"delete [{lo},{hi}) flag {flag}: {got} vs model {n}")
        return range(lo, hi)

    def health_refresh(self, measured: bool) -> None:
        """Dashboard refresh over the current metadata."""
        from hielo_spark.analytics import health
        from hielo_spark.metadata.commit import current_metadata_path
        from hielo_spark.metadata.metadata_json import snapshots_from_metadata_json

        path = current_metadata_path(self.table)
        doc = self._doc(path)
        last_ms = max(int(x["timestamp-ms"]) for x in doc["snapshots"])
        as_of = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime((last_ms + STEP_MS) / 1000))
        with self.ctx.op("health_refresh", measured) as rec:
            with self.ctx.span("health.parse"):
                snaps = snapshots_from_metadata_json(self.spark, "bench_table", path)
            with self.ctx.span("health.compute"):
                m = health.health_metrics(snaps, as_of)
                a = health.alerts(m)
                r = health.recommendations(a, m)
                mrows, _, _ = m.collect(), a.collect(), r.collect()
        if rec.get("error"):
            return
        n_snap = len(doc["snapshots"])
        got = mrows[0]["n_snapshots"] if len(mrows) == 1 else None
        self.ctx.verdict(rec, got == n_snap, f"health n_snapshots {got} vs {n_snap} in metadata")

    def compact(self, measured: bool) -> None:
        from hielo_spark.metadata import commit

        sid, ts = self._stamp()
        with self.ctx.op("compact", measured) as rec:
            commit.rewrite_data_files(self.spark, self.table, snapshot_id=sid, timestamp_ms=ts)
            commit.expire_snapshots(self.table, older_than_ms=ts, retain_last=1)
        if rec.get("error"):
            return
        doc = self._doc()
        summ = self._current_summary()
        rec["bytes_rewritten"] = int(summ.get("added-files-size", 0))
        rec["files_in"] = int(summ.get("rewritten-data-files", 0))
        rec["files_out"] = int(summ.get("added-data-files", 0))
        ok = doc.get("current-snapshot-id") == sid and len(doc.get("snapshots", [])) == 1
        self.ctx.verdict(rec, ok, f"compact: current {doc.get('current-snapshot-id')} "
                                  f"vs {sid}, {len(doc.get('snapshots', []))} snapshots kept")

    def _read_state(self) -> dict:
        """Live data and delete files a read of the current snapshot meets."""
        s = self._current_summary()
        return {
            "files_live": int(s.get("total-data-files", 0)),
            "delete_files_live": int(s.get("total-delete-files", 0)),
        }

    # ---- cycle -----------------------------------------------------------
    def _steps(self, measured: bool):
        """One cycle's ops in order, yielding after each.  The order is
        fixed, so every op meets the same table state (how many data and
        delete files are live) on every seed."""
        start = self.next_key
        self.append("commit", measured)
        yield
        self.point_step(measured)
        yield
        self.append("sources", measured)
        yield
        # the delete hits this cycle's appends and the second point read a
        # deleted range, so that read always applies the delete file (a
        # seeded range anywhere would make its cost bimodal)
        deleted = self.delete(measured, since=start)
        yield
        self.point_step(measured, keys=deleted)
        yield
        self.scan_step(measured)
        yield
        self.health_refresh(measured)
        yield
        self.compact(measured)
        yield

    def cycle(self, measured: bool, deadline: float | None) -> bool:
        """One cycle; returns False when the deadline cut it short."""
        for _ in self._steps(measured):
            if deadline is not None and time.perf_counter() >= deadline:
                return False
        return True


def run(ctx) -> None:
    w = TableOps(ctx)
    # warm-up, one after another so that setup_s carries every first call:
    # the table's first commit, then every other op type once
    w.append("commit", measured=False)
    w.append("sources", measured=False)
    w.point_step(measured=False)
    w.scan_step(measured=False)
    w.delete(measured=False)
    w.health_refresh(measured=False)
    w.compact(measured=False)
    ctx.begin_measure()
    deadline = time.perf_counter() + ctx.seconds
    done_one = False
    while True:
        finished = w.cycle(measured=True, deadline=deadline if done_one else None)
        done_one = True
        if not finished or time.perf_counter() >= deadline:
            break
    ctx.weights = dict(CYCLE)
    ctx.layer["storage.bytes_per_user_byte"] = (
        _dir_bytes(w.table) / max(1, w.model.live_arrow_bytes()))
    ctx.layer["storage.metadata_share"] = _dir_bytes(w.table, "metadata") / max(1, _dir_bytes(w.table))
    ctx.layer["commit.manifests_live"] = float(_manifests_live(w))
    shutil.rmtree(w.table, ignore_errors=True)


def _manifests_live(w: TableOps) -> int:
    from hielo_spark.metadata.avro_py import read_avro_file

    doc = w._doc()
    cur = doc.get("current-snapshot-id")
    for s in doc.get("snapshots", []):
        if s["snapshot-id"] == cur:
            _, _, rows = read_avro_file(s["manifest-list"].removeprefix("file:"))
            return len(rows)
    return 0
