"""The three closed-loop workloads.

Each workload drives the program only through its public API, with one
client that sends its next request when the previous one returns.  A
workload has

- ``open(spark)``: the program's set-up for the workload on a new session
  (sources loaded); repeated and timed as the run's set-up,
- ``create(root)``: fresh lake state under ``root``, from empty tables,
- ``cycle(run)``: one client cycle, recording latencies and check results
  on ``run``; ``WARM_CYCLES`` of them run before measuring,
- ``start()``: restart the operation pattern, so every measured window
  begins at the same point of it; metrics use whole ``PERIOD``s of
  cycles only, so each run's medians cover the same mix,
- ``finish(run)``: end-of-run checks and storage figures (not timed).

Operation kinds follow fixed repeating patterns; the seed picks the data
and which rows each operation touches, so every seed runs the same mix.

Every check is against state the benchmark tracks itself, never against
the lake: a DuckDB model of the committed rows (``lake_ingest``), DuckDB
over the source rows the primary committed (``geo_replicate``), or the
registry's DuckDB oracle SQL (``lake_analytics``).
"""

from __future__ import annotations

import hashlib
import os
import random
import time


def _canon_rows(rows, cols):
    """Canonical, order-free form of a result (the oracle gate's rules)."""
    from check_oracle import _table  # tools/ is on sys.path, see harness

    return _table([tuple(r) for r in rows], [c.lower() for c in cols])


def _dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _live_bytes(table) -> int:
    head = table.current_snapshot()
    return sum(f.size_bytes for f in table.data_files(head)) if head else 0


# ---------------------------------------------------------------------------
# lake_ingest: the writer path
# ---------------------------------------------------------------------------


class LakeIngest:
    """Micro-batches of ``lineitem`` (appends, MOR upserts and deletes)
    interleave with exact-dedup micro-batches of ``documents``; every commit
    is followed by a read-your-writes pruned read at the head, and catalog
    maintenance closes each pass over ``PATTERN``."""

    name = "lake_ingest"
    TABLES = ("lineitem", "documents")
    ORDERS_PER_BATCH = 100      # ~400 lineitem rows per append
    DOCS_PER_BATCH = 25
    REDELIVER_SHARE = 0.25      # re-delivered duplicates per doc batch
    # Appends dominate, so the median writer call and the median read sit
    # well inside the append mode; the MOR ops come last, and maintenance
    # (compaction clears their delete files) closes each period.
    PATTERN = ("append", "append", "dedup", "append", "append", "append", "upsert", "delete")
    PERIOD = len(PATTERN)
    WARM_CYCLES = 3             # an append and a dedup batch pay their one-off warm-up
    KEY = ["l_orderkey", "l_linenumber"]

    def __init__(self, ctx):
        import pyarrow.parquet as pq

        self.ctx = ctx
        docs = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"))
        self.doc_text = docs.column("text").to_pylist()
        self.doc_fp = [hashlib.md5(t.encode()).hexdigest() for t in self.doc_text]

    def open(self, spark):
        from pyspark.sql import functions as F

        from iceberg_hybrid_spark.sources.tables import load_table

        self.spark, self.F = spark, F
        self.li = load_table(spark, self.ctx.data_dir, "lineitem")
        self.docs = load_table(spark, self.ctx.data_dir, "documents")

    def create(self, root):
        import duckdb

        from iceberg_hybrid_spark.lake.catalog import HyCatalog
        from iceberg_hybrid_spark.lake.table import HyTable
        from iceberg_hybrid_spark.streaming.ingest import FINGERPRINT_DDL

        spark = self.spark
        self.rng = random.Random(self.ctx.seed)
        self.root = root
        self.cat = HyCatalog(spark, root)
        self.duck = duckdb.connect()
        self.duck.execute(
            "CREATE VIEW src_li AS SELECT * FROM "
            f"'{os.path.join(self.ctx.data_dir, 'lineitem.parquet')}'"
        )
        self.duck.execute("CREATE TABLE m_li AS SELECT * FROM src_li WHERE l_orderkey < "
                          f"{self.ORDERS_PER_BATCH}")
        self.table = HyTable(spark, os.path.join(root, "sales", "lineitem"))
        self.table.create(self._li_range(0, self.ORDERS_PER_BATCH),
                          partition_by=["l_returnflag"], sort_by=["l_orderkey"])
        self.corpus = HyTable(spark, os.path.join(root, "corpus", "documents"))
        self.corpus.create(spark.createDataFrame([], self.docs.schema))
        self.fps = HyTable(spark, os.path.join(root, "corpus", "fingerprints"))
        self.fps.create(spark.createDataFrame([], FINGERPRINT_DDL))
        self.appended = [0]
        self.next_batch = 1
        self.next_doc = 0
        self.delivered: list[int] = []
        self.seen: set[str] = set()
        self.kept: set[int] = set()
        self.turn = 0
        self.user_rows = 0
        self.delivered_docs = 0
        self.novel_docs = 0

    # ---- helpers -------------------------------------------------------

    def _li_range(self, lo, hi):
        c = self.F.col("l_orderkey")
        return self.li.filter((c >= lo) & (c < hi))

    def _model_rows(self, where):
        return self.duck.execute(
            f"SELECT l_orderkey, l_linenumber, l_quantity FROM m_li WHERE {where}"
        ).fetchall()

    # ---- the cycle -----------------------------------------------------

    def start(self):
        self.turn = 0

    def cycle(self, run):
        kind = self.PATTERN[self.turn % self.PERIOD]
        if kind == "dedup":
            self._dedup_commit(run)
        else:
            self._lineitem_commit(run, kind)
        self.turn += 1
        if self.turn % self.PERIOD == 0:
            self._maintain(run)

    def _lineitem_commit(self, run, kind):
        w = self.ORDERS_PER_BATCH
        if kind == "append":
            lo, hi = self.next_batch * w, (self.next_batch + 1) * w
        else:  # MOR upsert / delete of a quarter of an already-appended batch
            b = self.rng.choice(self.appended)
            lo = b * w + self.rng.randrange(0, w - w // 4)
            hi = lo + w // 4
        flag = self.rng.choice("ANR")
        rng_sql = f"l_orderkey >= {lo} AND l_orderkey < {hi}"
        with run.op("commit", self.ctx.tracer, also=kind):
            if kind == "append":
                self.table.append(self._li_range(lo, hi))
            elif kind == "upsert":
                src = self._li_range(lo, hi).withColumn(
                    "l_quantity", self.F.col("l_quantity") + 1.0)
                self.table.upsert_mor(src, self.KEY)
            else:
                self.table.delete_where_mor(
                    [("l_orderkey", ">=", lo), ("l_orderkey", "<", hi),
                     ("l_returnflag", "=", flag)], self.KEY)
        if run.last_ok:
            if kind == "append":
                self.duck.execute(f"INSERT INTO m_li SELECT * FROM src_li WHERE {rng_sql}")
                self.appended.append(self.next_batch)
                self.next_batch += 1
            elif kind == "upsert":
                self.duck.execute(f"DELETE FROM m_li WHERE {rng_sql}")
                self.duck.execute(
                    "INSERT INTO m_li SELECT * REPLACE (l_quantity + 1.0 AS l_quantity) "
                    f"FROM src_li WHERE {rng_sql}")
            else:
                self.duck.execute(f"DELETE FROM m_li WHERE {rng_sql} AND l_returnflag = '{flag}'")
            if kind != "delete":
                self.user_rows += self.duck.execute(
                    f"SELECT count(*) FROM src_li WHERE {rng_sql}").fetchone()[0]
        # read-your-writes at the head, pruned to the range just written
        preds = [("l_returnflag", "=", flag), ("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)]
        with run.op("read", self.ctx.tracer, also=f"read_after_{kind}"):
            rows = self.table.read(preds=preds).select(
                "l_orderkey", "l_linenumber", "l_quantity").collect()
        if run.last_ok:
            want = sorted(self._model_rows(f"{rng_sql} AND l_returnflag = '{flag}'"))
            run.check(sorted(tuple(r) for r in rows) == want,
                      f"head read after {kind} [{lo},{hi}) flag {flag}: "
                      f"{len(rows)} rows, model has {len(want)}")
        if self.ctx.tracer.active:
            self.ctx.count_read(self.table, preds)

    def _dedup_commit(self, run):
        from iceberg_hybrid_spark.streaming.ingest import dedup_ingest_batch

        n_docs = len(self.doc_text)
        lo = self.next_doc
        hi = min(n_docs, lo + self.DOCS_PER_BATCH)
        ids = list(range(lo, hi))
        k = max(1, int(self.DOCS_PER_BATCH * self.REDELIVER_SHARE))
        if self.delivered:
            ids += self.rng.sample(self.delivered, min(k, len(self.delivered)))
        # the model: first arrival of each fingerprint wins, min id within a batch
        new: dict[str, int] = {}
        for i in sorted(set(ids)):
            fp = self.doc_fp[i]
            if fp not in self.seen and fp not in new:
                new[fp] = i
        batch = self.docs.filter(self.F.col("doc_id").isin(ids))
        with run.op("commit", self.ctx.tracer, also="dedup"):
            n = dedup_ingest_batch(batch, self.corpus, self.fps)
        if run.last_ok:
            run.check(n == len(new), f"dedup batch [{lo},{hi}): {n} novel, model {len(new)}")
            self.seen.update(new)
            self.kept.update(new.values())
            self.delivered.extend(range(lo, hi))
            self.next_doc = hi
            self.user_rows += len(new)
            self.delivered_docs += len(ids)
            self.novel_docs += len(new)
        preds = [("doc_id", ">=", lo), ("doc_id", "<", hi)]
        with run.op("read", self.ctx.tracer, also="read_after_dedup"):
            got = [r[0] for r in self.corpus.read(preds=preds).select("doc_id").collect()]
        if run.last_ok:
            want = sorted(i for i in self.kept if lo <= i < hi)
            run.check(sorted(got) == want,
                      f"corpus read [{lo},{hi}): {len(got)} docs, model {len(want)}")
        if self.ctx.tracer.active:
            self.ctx.count_read(self.corpus, preds)

    def _maintain(self, run):
        with run.op("maintenance", self.ctx.tracer):
            reports = self.cat.run_maintenance(retain_last=3)
        if run.last_ok:
            bad = [r for r in reports if "error" in r or not r.get("audit_ok", False)]
            run.check(not bad, f"maintenance reports: {bad}")

    def finish(self, run):
        cols = self.table.read().columns
        rows = self.table.read().collect()
        got = _canon_rows(rows, cols)
        want_rel = self.duck.execute(f"SELECT {', '.join(cols)} FROM m_li")
        want = _canon_rows(want_rel.fetchall(), cols)
        digest = lambda t: hashlib.sha256(repr(t).encode()).hexdigest()  # noqa: E731
        run.final_check(digest(got) == digest(want),
                        f"final lineitem hash: {len(rows)} rows vs model {len(want[1])}")
        ids = sorted(r[0] for r in self.corpus.read().select("doc_id").collect())
        run.final_check(ids == sorted(self.kept),
                        f"final corpus: {len(ids)} docs vs model {len(self.kept)}")
        tables = (self.table, self.corpus, self.fps)
        run.figures["storage_bytes_per_user_byte"] = (
            _dir_bytes(self.root) / max(1, sum(_live_bytes(t) for t in tables)))
        run.figures["user_rows"] = self.user_rows
        run.figures["novel_ratio"] = self.novel_docs / max(1, self.delivered_docs)
        self.duck.close()


# ---------------------------------------------------------------------------
# geo_replicate: write → sync → routed read across three regions
# ---------------------------------------------------------------------------


class GeoReplicate:
    """``coordinate_write`` appends ``events`` micro-batches at the primary;
    ``process_pending_events`` then syncs every active replica (plan → copy
    → staged commit → L1 md5 verify → publish); a routed read through a
    fresh table handle follows, checked against the primary at the same
    sequence.  On a fixed schedule one replica (the seed picks which first)
    is down for a few commits: reads fail over, and its next sync
    fast-forwards over the gap."""

    name = "geo_replicate"
    TABLES = ("events",)
    EVENTS_PER_BATCH = 300      # fewer on a tiny input: ~40 batches at least
    PRIMARY = "us-east-1"
    REPLICAS = ("eu-west-1", "ap-southeast-1")
    TABLE = "analytics.events"
    OUTAGE_EVERY = 12           # one replica goes down every 12 commits ...
    OUTAGE_COMMITS = 2          # ... for 2 commits
    PERIOD = 1
    WARM_CYCLES = 2

    def __init__(self, ctx):
        self.ctx = ctx

    def open(self, spark):
        from pyspark.sql import functions as F

        from iceberg_hybrid_spark.sources.tables import load_table

        self.spark, self.F = spark, F
        self.events = load_table(spark, self.ctx.data_dir, "events")

    def create(self, root):
        import duckdb

        from iceberg_hybrid_spark.control.gate import CommitGate
        from iceberg_hybrid_spark.control.registry import Region, Registry, StorageLocation
        from iceberg_hybrid_spark.control.router import ReadRouter
        from iceberg_hybrid_spark.control.sync import MultiRegionCoordinator, SyncEventStore
        from iceberg_hybrid_spark.control.tokens import TokenStore
        from iceberg_hybrid_spark.lake.table import HyTable

        spark = self.spark
        self.rng = random.Random(self.ctx.seed)
        self.root = root
        self.duck = duckdb.connect()
        self.duck.execute("CREATE VIEW src_ev AS SELECT * FROM "
                          f"'{os.path.join(self.ctx.data_dir, 'events.parquet')}'")
        self.registry = Registry(spark)
        for r in (self.PRIMARY,) + self.REPLICAS:
            self.registry.register_region(
                Region(r, r), StorageLocation(r, f"file://{r}", os.path.join(root, r), "wh"))
        self.primary = HyTable(spark, os.path.join(root, self.PRIMARY, "wh", self.TABLE))
        # Readers are served by the replicas: only their placements are
        # registered, so a read fails over to the other replica.  The
        # coordinator places replicas beside the primary's warehouse;
        # registering those paths up front lets the router hand them out.
        for r in self.REPLICAS:
            self.registry.register_table_location(
                self.TABLE, r,
                os.path.join(os.path.dirname(self.primary.root) + f"_{r}", self.TABLE))
        self.coord = MultiRegionCoordinator(
            spark, self.registry, CommitGate(spark), SyncEventStore(spark),
            {self.PRIMARY: {self.TABLE: self.primary}})
        self.router = ReadRouter(self.registry)
        self.tokens = TokenStore(spark)
        self.next_event = 0
        self.down: str | None = None
        self.down_left = 0
        self.commits = 0
        self.first_down = self.rng.randrange(len(self.REPLICAS))
        self.rows = 0
        self.seq_rows: dict[int, int] = {}  # primary seq -> rows committed by then
        self.watermark = 0
        self.cycle(self.ctx.setup_run)

    def _batch(self):
        lo = self.next_event
        hi = lo + min(self.EVENTS_PER_BATCH, max(10, self.ctx.counts["events"] // 40))
        c = self.F.col("event_id")
        return lo, hi, self.events.filter((c >= lo) & (c < hi))

    # A content checksum both engines compute identically: the replica's
    # rows (Spark) against the source rows the primary committed (DuckDB).
    DIGEST_SPARK = (
        "count(1)", "sum(event_id)", "sum(user_id)", "sum(unix_micros(cast(ts as timestamp)))",
        "sum(cast(round(value * 100) as bigint))",
        "sum(cast(conv(substr(md5(concat(event_type, '|', props)), 1, 8), 16, 10)"
        " as bigint))",
    )
    DIGEST_DUCK = (
        "count(*)", "sum(event_id)", "sum(user_id)", "sum(epoch_us(ts))",
        "sum(cast(round(value * 100) as bigint))",
        "sum(('0x' || substr(md5(event_type || '|' || props), 1, 8))::BIGINT)",
    )

    def _digest(self, df):
        row = df.selectExpr(*self.DIGEST_SPARK).collect()[0]
        return tuple(int(v or 0) for v in row)

    def _expected_digest(self, hi):
        row = self.duck.execute(
            f"SELECT {', '.join(self.DIGEST_DUCK)} FROM src_ev WHERE event_id < {hi}"
        ).fetchone()
        return tuple(int(v or 0) for v in row)

    def _outage_schedule(self):
        from iceberg_hybrid_spark.control.registry import ACTIVE, FAILED

        self.commits += 1
        if self.down is not None:
            self.down_left -= 1
            if self.down_left <= 0:
                self.registry.update_region_status(self.down, ACTIVE)
                self.down = None
        elif self.commits % self.OUTAGE_EVERY == self.OUTAGE_EVERY // 3:
            n = self.commits // self.OUTAGE_EVERY + self.first_down
            self.down = self.REPLICAS[n % len(self.REPLICAS)]
            self.down_left = self.OUTAGE_COMMITS
            self.registry.update_region_status(self.down, FAILED)

    def start(self):
        self.commits = 0  # the outage falls at the same point of every run

    def cycle(self, run):
        from iceberg_hybrid_spark.control.tokens import ConsistencyToken

        self._outage_schedule()
        lo, hi, batch = self._batch()
        with run.op("commit", self.ctx.tracer):
            job, snap = self.coord.coordinate_write(self.TABLE, batch, self.PRIMARY)
        if not run.last_ok:
            return
        ok = run.check(job.status == "Completed" and snap is not None,
                       f"coordinate_write: job {job.status}")
        if not ok:
            return
        self.next_event = hi
        self.rows += hi - lo
        t_commit = time.perf_counter()
        seq = snap.sequence_number
        synced = []
        for region in self.registry.get_active_regions():
            if region == self.PRIMARY:
                continue
            with run.op("sync", self.ctx.tracer):
                progress = self.coord.process_pending_events(region)
            if not run.last_ok:
                continue
            run.sample("lag", time.perf_counter() - t_commit)
            if run.check(progress.failed == 0,
                         f"sync to {region} at seq {seq}: {progress.failed} events failed"):
                synced.append(region)
        if len(synced) == len(self.registry.get_active_regions()) - 1:
            run.sample("lag_all", time.perf_counter() - t_commit)
            try:
                self.tokens.save_token(ConsistencyToken(self.TABLE, snap.timestamp_ms, seq))
            except ValueError as exc:
                run.check(False, f"token: {exc}")
        self.seq_rows[seq] = hi
        for preferred in self.REPLICAS:
            self._routed_read(run, preferred)

    def _routed_read(self, run, preferred):
        from iceberg_hybrid_spark.lake.table import HyTable

        with run.op("read", self.ctx.tracer):
            token = self.tokens.load_token(self.TABLE)
            loc = self.router.route_read(self.TABLE, preferred_region=preferred)
            # a fresh handle, as an external engine would open it: cold snapshot log
            replica = HyTable(self.spark, loc.data_path)
            head = replica.current_snapshot()
            staged = replica.snapshot_by_id(head.summary["published_from"])
            got = self._digest(replica.read(snapshot_id=head.snapshot_id))
        if not run.last_ok:
            return
        src_seq = staged.summary.get("source_seq")
        want = self._expected_digest(self.seq_rows.get(src_seq, -1))
        run.check(token is not None and token.last_applied_sequence >= self.watermark,
                  f"token watermark went back: {token} < {self.watermark}")
        if token is not None:
            self.watermark = token.last_applied_sequence
        run.check(loc.region != self.down, f"read routed to {loc.region}, which is down")
        run.check(src_seq == self.watermark and got == want,
                  f"replica {loc.region} at source seq {src_seq} (token {self.watermark}): "
                  f"{got} vs primary {want}")
        if self.ctx.tracer.active:
            self.ctx.count_read(replica, None)

    def truncate_one_replica_file(self):
        """Fault injection for the negative test: cut one replicated data
        file in half, behind the lake's back."""
        replica = os.path.join(os.path.dirname(self.primary.root) + f"_{self.REPLICAS[0]}",
                               self.TABLE)
        for dirpath, _, files in os.walk(replica):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    path = os.path.join(dirpath, f)
                    with open(path, "r+b") as fh:
                        fh.truncate(os.path.getsize(path) // 2)
                    return path
        return None

    def finish(self, run):
        failed = self.coord.events.get_failed_events()
        run.final_check(not failed, f"{len(failed)} sync events FAILED")
        roots = [self.primary]
        from iceberg_hybrid_spark.lake.table import HyTable

        for r in self.REPLICAS:
            path = self.registry.get_table_data_path(self.TABLE, r)
            t = HyTable(self.spark, path)
            if t.exists():
                roots.append(t)
        run.figures["storage_bytes_per_user_byte"] = (
            sum(_dir_bytes(t.root) for t in roots) / max(1, sum(_live_bytes(t) for t in roots)))
        run.figures["user_rows"] = self.rows
        # every byte the primary commits is due once at each replica
        run.figures["bytes_committed"] = _live_bytes(self.primary) * len(self.REPLICAS)
        run.figures["events_failed"] = len(failed)
        self.duck.close()


# ---------------------------------------------------------------------------
# lake_analytics: a fixed query mix
# ---------------------------------------------------------------------------


class LakeAnalytics:
    """A fixed mix of registry queries over the source tables, looped in a
    fixed order; every result is checked against the query's DuckDB oracle.
    No lake table or control-plane object is touched."""

    name = "lake_analytics"
    TABLES = None  # all ten
    MIX = (
        "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
        "events_hourly_window", "user_sessions",
        "dedup_exact_documents", "near_dup_shingle_pairs",
        "multimodal_type_stats",
    )
    WARM_CYCLES = len(MIX)      # one pass: each query's first run pays JIT and codegen
    # Two passes: the pass after the warm-up still runs ~25% slower than
    # the next, so a period of one pass would mix warm and warmer runs.
    PERIOD = 2 * len(MIX)

    def __init__(self, ctx):
        import duckdb

        from iceberg_hybrid_spark.queries import all_specs
        from iceberg_hybrid_spark.sources.tables import TABLE_NAMES

        self.ctx = ctx
        specs = all_specs()
        self.specs = [specs[q] for q in self.MIX]
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(ctx.data_dir, t + '.parquet')}'")
        self.oracle = {}
        for spec in self.specs:
            rel = con.sql(spec.oracle)
            self.oracle[spec.name] = _canon_rows(rel.fetchall(), list(rel.columns))
        con.close()
        self.pos = 0
        self.pass_start = 0.0

    def open(self, spark):
        from iceberg_hybrid_spark.sources.tables import TABLE_NAMES, load_table

        self.spark = spark
        for t in TABLE_NAMES:
            load_table(spark, self.ctx.data_dir, t)

    def create(self, root):
        self.pos = 0

    def start(self):
        self.pos = 0

    def cycle(self, run):
        if self.pos == 0:
            self.pass_start = time.perf_counter()
        self._query(run, self.specs[self.pos])
        self.pos = (self.pos + 1) % len(self.specs)
        if self.pos == 0:
            run.sample("pass", time.perf_counter() - self.pass_start)

    def family(self, spec) -> str:
        return spec.fn.__module__.rsplit(".", 1)[-1]

    def _query(self, run, spec):
        tracer = self.ctx.tracer
        with run.op("query", tracer):
            with tracer.span(f"queries.{self.family(spec)}.plan", query=spec.name):
                df = spec.fn(self.spark, self.ctx.data_dir)
            rows = df.collect()
        if run.last_ok:
            run.check(_canon_rows(rows, df.columns) == self.oracle[spec.name],
                      f"{spec.name}: result differs from its oracle ({len(rows)} rows)")

    def finish(self, run):
        pass  # every result was checked as it came


WORKLOADS = {w.name: w for w in (LakeIngest, GeoReplicate, LakeAnalytics)}
