"""The two workloads. Each is one closed-loop client driving the
package's public functions; every call plus its collect, count or drain
is one operation. A workload has three phases: ``setup`` (untimed, in
``setup_s``), ``run`` (the timed region) and ``check`` (untimed output
checks that mark mismatching operations failed).
"""

from __future__ import annotations

import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass

import duckdb
import pyarrow.parquet as pq

import gen
from measure import dir_usage

BI_PREFIXES = ("tpch_", "gold_", "dash_", "agg_")
SOURCE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclass
class Op:
    """One timed operation. ``kind`` is query, commit, read or
    maintenance; ``layer`` names the package layer the call enters."""

    index: int
    name: str
    layer: str
    kind: str
    start: float
    end: float = 0.0
    build_end: float | None = None  # end of DataFrame construction
    ok: bool = True
    error: str = ""
    result: object = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Client:
    """Runs operations one after another and records them. With
    ``traced`` each operation's build and action phases get their own
    Spark job group, ``<index>:<name>:build|action``, so the event log
    attributes every job to the phase that launched it."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.ops: list[Op] = []
        self.bookkeeping_s = 0.0  # benchmark-side work inside the timed region

    @contextmanager
    def aside(self):
        """Time benchmark-side work done inside the timed region (file
        census, version lookups) so it can be left out of ``wall_s``."""
        t = time.time()
        try:
            yield
        finally:
            self.bookkeeping_s += time.time() - t

    def _group(self, op: Op, phase: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(
                f"{op.index}:{op.name}:{phase}", f"{op.layer}.{op.name}"
            )

    def call(self, name: str, layer: str, kind: str, action, build=None):
        """Time ``action(build())`` (or ``action()``) as one operation;
        an exception marks it failed and returns None."""
        op = Op(len(self.ops), name, layer, kind, time.time())
        self.ops.append(op)
        try:
            if build is not None:
                self._group(op, "build")
                built = build()
                op.build_end = time.time()
                self._group(op, "action")
                result = action(built)
            else:
                self._group(op, "action")
                result = action()
        except Exception as e:  # noqa: BLE001 - a failed op is a measurement
            op.ok = False
            op.error = f"{type(e).__name__}: {e}"[:500]
            traceback.print_exc()
            result = None
        op.end = time.time()
        op.result = result
        if self.traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return result

    def fail(self, op: Op | None, why: str) -> None:
        if op is not None and op.ok:
            op.ok = False
            op.error = why[:500]


def _oracle_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in SOURCE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _prime_bpe_vocab(entry_mod, corpora: list[str]) -> None:
    """The ``text_token_counts_bpe`` oracle embeds a vocabulary replayed
    with the package's reference trainer for each corpus it knows,
    keyed by corpus fingerprint. Give it the vocabulary of each of this
    run's corpora, built the same way, so the oracle covers the
    generated documents."""
    import re
    from collections import Counter

    from databricks_data_warehouse_spark.ext.bpe import (
        MIN_PAIR_FREQ, NUM_MERGES, _merge_word, _train_driver)

    rows = []
    con = duckdb.connect()
    for documents in corpora:
        fp = con.execute(f"SELECT {entry_mod._BPE_FP_EXPR} FROM '{documents}'"
                         ).fetchone()[0]
        words: Counter = Counter()
        for (t,) in con.execute(f"SELECT text FROM '{documents}'").fetchall():
            words.update(w for w in re.split(r"[ \t\n\r\f]+", (t or "").strip())
                         if w)
        merges = [(l, r) for _, l, r in sorted(
            _train_driver(sorted(words.items()), NUM_MERGES, MIN_PAIR_FREQ))]
        for w in sorted(words):
            syms = list(w)
            for left, right in merges:
                if len(syms) == 1:
                    break
                syms = _merge_word(syms, left, right)
            rows.append("('{}', '{}', {})".format(
                fp.replace("'", "''"), w.replace("'", "''"), len(syms)))
    con.close()
    entry_mod._BPE_VOCAB_CACHE[:] = [",\n".join(rows)]


def check_against_oracle(client: Client, dir_of) -> None:
    """Compare each op's collected result with its ``oracle_sql()`` twin
    run on DuckDB over the files the op read (``dir_of(op)``), using the
    comparison of ``scripts/check_oracle.py``."""
    import __spark_entry__ as entry_mod
    import check_oracle

    dirs = sorted({dir_of(op) for op in client.ops})
    bpe_dirs = sorted({dir_of(op) for op in client.ops
                       if op.name == "text_token_counts_bpe"})
    if bpe_dirs:
        _prime_bpe_vocab(entry_mod, [f"{d}/documents.parquet" for d in bpe_dirs])
    oracles = entry_mod.oracle_sql()

    def check_dir(d: str) -> None:
        con = _oracle_views(d)
        expected: dict[str, object] = {}
        for op in client.ops:
            if not op.ok or dir_of(op) != d:
                continue
            if op.name not in expected:
                expected[op.name] = con.execute(oracles[op.name]).fetchdf()
            verdict = check_oracle.compare(op.name, op.result, expected[op.name])
            if verdict == "OK":
                verdict = check_oracle.compare_types(
                    op.result, expected[op.name]) or "OK"
            if verdict != "OK":
                client.fail(op, f"oracle mismatch: {verdict}")
        con.close()

    # one DuckDB connection per directory; the recursive dedup oracles
    # run on one core each, so the directories are checked side by side
    with ThreadPoolExecutor(min(len(dirs), os.cpu_count() or 1)) as pool:
        for f in [pool.submit(check_dir, d) for d in dirs]:
            f.result()


# ------------------------------------------------------------ bi_curation


def redirect_scratch_root(path: str) -> None:
    """Point the package's shared scratch/fixture root at ``path`` (every
    caller resolves it through this one function at call time)."""
    from databricks_data_warehouse_spark.streaming import windows

    windows._scratch_root = lambda: path


class BiCuration:
    """Read-only registry entries in a fresh process, each called once:
    every ``BI_EVERY``-th of the 48 BI queries (sorted by name) over the
    star schema in name order, then the ``CURATION`` operators over
    a new corpus with an empty scratch root. One operation builds the
    DataFrame and collects it with ``toPandas``; each result is checked
    against its oracle twin afterwards.

    Nothing runs before the timed region but the session start, so it
    pays what a short session over a new corpus pays: the engine's and
    the Python workers' first calls, each query's plan building and job
    launch, and each operator's index and cache builds."""

    name = "bi_curation"
    BI_EVERY = 8
    # the heavy operator of each family: MinHash pairs (dedup), the IVF
    # index (ANN), BPE merges cached in the scratch root and counted in a
    # pandas UDF (tokenizer); plus three cheap text operators
    CURATION = ("text_quality", "text_pii_scrub", "dedup_minhash_pairs",
                "ann_ivf_topk", "text_token_counts_bpe", "text_bm25")
    # smoke: the sf0.001 shape the package's own smoke tests use
    BI_SCALE = {False: gen.Scale(sf=0.01, corpus_base_docs=50, corpus_base_vecs=20),
                True: gen.Scale(sf=0.001, corpus_base_docs=50, corpus_base_vecs=20)}
    CORPUS_SCALE = {
        False: gen.Scale(sf=0.001, corpus_base_docs=30, corpus_base_vecs=30),
        True: gen.Scale(sf=0.001, corpus_base_docs=20, corpus_base_vecs=20)}

    def __init__(self, ctx):
        self.ctx = ctx
        self.bi_dir = os.path.join(ctx.data_dir, "bi")
        self.corpus_dir = os.path.join(ctx.data_dir, "corpus")

    def generate(self) -> None:
        gen.write_dataset(self.bi_dir, self.BI_SCALE[self.ctx.smoke],
                          self.ctx.seed)
        gen.write_dataset(self.corpus_dir, self.CORPUS_SCALE[self.ctx.smoke],
                          self.ctx.seed)

    def setup(self, spark) -> None:
        import __spark_entry__ as entry_mod

        registry = entry_mod.queries()
        bi = sorted(n for n in registry if n.startswith(BI_PREFIXES))
        # a fixed order: in a cold pass the first calls pay the engine's
        # start, and a seeded order would move that cost between queries
        self.steps = [(n, "queries", self.bi_dir) for n in bi[::self.BI_EVERY]]
        self.steps += [(n, "ext", self.corpus_dir) for n in self.CURATION]
        self.fns = {n: registry[n] for n, _, _ in self.steps}

    def run(self, client: Client) -> tuple[float, float]:
        t0 = time.time()
        for n, layer, d in self.steps:
            client.call(n, layer, "query",
                        build=lambda fn=self.fns[n], d=d: fn(client.spark, d),
                        action=lambda df: df.toPandas())
        return t0, time.time()

    def check(self, client: Client) -> dict:
        dirs = [d for _, _, d in self.steps]
        check_against_oracle(client, lambda op: dirs[op.index])
        return {}


# ------------------------------------------------------- lakehouse_writes

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "year", "month"]
STATUS_DOMAIN = ["F", "O"]


class Replay:
    """DuckDB replay of the operation log: silver orders, DLQ and gold
    as the pipeline's rules define them, snapshotted per silver
    version for the read checks."""

    def __init__(self, customers_path: str):
        self.con = duckdb.connect()
        c = self.con
        c.execute(f"CREATE TABLE customers AS SELECT * FROM '{customers_path}'")
        c.execute(
            "CREATE TABLE silver (o_orderkey BIGINT, o_custkey BIGINT,"
            " o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP,"
            " year INT, month INT)"
        )
        c.execute("CREATE TABLE dlq AS SELECT * FROM silver LIMIT 0")
        c.execute(
            "CREATE TABLE gold (c_mktsegment VARCHAR, year INT, month INT,"
            " order_count BIGINT)"
        )
        seg = ", ".join(f"'{s}'" for s in gen.SEGMENTS)
        c.execute(
            "CREATE VIEW good_customers AS SELECT c_custkey, c_mktsegment"
            f" FROM customers WHERE c_mktsegment IN ({seg})"
        )
        self.snapshots: dict[int, list[tuple]] = {}

    def ingest(self, batch_path: str) -> tuple[int, int]:
        dom = ", ".join(f"'{s}'" for s in STATUS_DOMAIN)
        src = (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
            " o_orderdate, year(o_orderdate) AS year,"
            f" month(o_orderdate) AS month FROM '{batch_path}'"
        )
        ok = (f"o_orderstatus IN ({dom}) AND o_custkey IN"
              " (SELECT c_custkey FROM good_customers)")
        self.con.execute(f"INSERT INTO silver SELECT * FROM ({src}) WHERE {ok}")
        self.con.execute(f"INSERT INTO dlq SELECT * FROM ({src}) WHERE NOT ({ok})")
        nv = self.con.execute(f"SELECT count(*) FROM ({src}) WHERE {ok}").fetchone()[0]
        ni = self.con.execute(
            f"SELECT count(*) FROM ({src}) WHERE NOT ({ok})").fetchone()[0]
        return nv, ni

    def gold_upsert(self) -> None:
        agg = (
            "SELECT c_mktsegment, year, month, count(*) AS order_count"
            " FROM silver JOIN good_customers ON o_custkey = c_custkey"
            " GROUP BY ALL"
        )
        self.con.execute(
            f"CREATE OR REPLACE TABLE gold AS SELECT * FROM gold g WHERE NOT EXISTS"
            f" (SELECT 1 FROM ({agg}) a WHERE a.c_mktsegment = g.c_mktsegment"
            f" AND a.year = g.year AND a.month = g.month) UNION ALL {agg}"
        )

    def delete(self, keys: list[int]) -> None:
        self.con.execute("DELETE FROM silver WHERE list_contains(?, o_orderkey)",
                         [keys])

    def update(self, keys: list[int]) -> None:
        self.con.execute(
            "UPDATE silver SET o_totalprice = o_totalprice + 1.0"
            " WHERE list_contains(?, o_orderkey)", [keys])

    def snapshot(self, version: int) -> None:
        self.snapshots[version] = self.con.execute(
            "SELECT o_orderkey, o_orderstatus, o_totalprice FROM silver"
        ).fetchall()


def _diff(old: list[tuple], new: list[tuple]) -> dict[str, list[tuple]]:
    from collections import Counter

    a, b = Counter(old), Counter(new)
    return {
        "insert": sorted((b - a).elements()),
        "delete": sorted((a - b).elements()),
    }


def _feed(rows) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = {"insert": [], "delete": []}
    for r in rows:
        out.setdefault(r["_change_type"], []).append(
            (r["o_orderkey"], r["o_orderstatus"], r["o_totalprice"])
        )
    return {k: sorted(v) for k, v in out.items()}


class LakehouseWrites:
    """The reference ETL run incrementally over seeded order batches:
    bronze -> silver (domain + FK rules, DLQ) -> gold upsert, then
    merge-on-read and copy-on-write DML and reads of each new snapshot;
    ``optimize`` and ``vacuum`` close the run."""

    name = "lakehouse_writes"
    # the table roots write_amp and space_amp measure, with the
    # partitioning each was created with (a handle must match it)
    TABLES = {"bronze_orders": ["year", "month"],
              "silver_orders": ["year", "month"],
              "dlq_orders": ["year", "month"],
              "gold_orders_by_segment": ["year"]}
    # (customers, batches, orders per batch); smoke shrinks the batches
    SIZES = {False: (100, 1, 500), True: (60, 1, 100)}

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_customers, self.n_batches, self.rows_per_batch = self.SIZES[ctx.smoke]
        self.tables_dir = os.path.join(ctx.run_dir, "tables")
        self.amp: dict = {}

    def generate(self) -> None:
        d = self.ctx.data_dir
        os.makedirs(d, exist_ok=True)
        self.plan = gen.write_plan(self.n_customers, self.n_batches,
                                   self.rows_per_batch, self.ctx.seed)
        pq.write_table(self.plan.customers, f"{d}/customers.parquet")
        self.batch_paths = []
        for i, b in enumerate(self.plan.batches):
            path = f"{d}/orders_batch_{i}.parquet"
            pq.write_table(b.orders, path)
            self.batch_paths.append(path)
        self.input_bytes = sum(os.path.getsize(p) for p in self.batch_paths)
        self.month_of = {
            k: ts.month for b in self.plan.batches
            for k, ts in zip(b.orders.column("o_orderkey").to_pylist(),
                             b.orders.column("o_orderdate").to_pylist())}

    def _loc(self, name: str) -> str:
        return os.path.join(self.tables_dir, name)

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from databricks_data_warehouse_spark.sources.tables import ManagedTable

        # the FK rule's parent and the gold join's dimension: the live
        # customers, read from the generated file (a customer table
        # written here would only move first-call costs out of the
        # timed region and add set-up time)
        self.customers = spark.read.parquet(
            f"{self.ctx.data_dir}/customers.parquet"
        ).filter(F.col("c_mktsegment").isin(list(gen.SEGMENTS)))
        self.silver = ManagedTable(spark, "silver_orders", self._loc("silver_orders"),
                                   partition_columns=self.TABLES["silver_orders"])
        self.replay = Replay(f"{self.ctx.data_dir}/customers.parquet")

    def _table(self, spark, name: str):
        from databricks_data_warehouse_spark.sources.tables import ManagedTable

        if name == "silver_orders":
            return self.silver
        return ManagedTable(spark, name, self._loc(name),
                            partition_columns=self.TABLES[name])

    def _census(self, seen: dict[str, int]) -> None:
        """Record the size of every file under the table roots (the
        bytes-written tally)."""
        for name in self.TABLES:
            for dirpath, _, files in os.walk(self._loc(name)):
                for f in files:
                    p = os.path.join(dirpath, f)
                    try:
                        seen[p] = max(seen.get(p, 0), os.path.getsize(p))
                    except OSError:
                        pass

    def run(self, client: Client) -> tuple[float, float]:
        """The timed region. It only records what each operation
        returned, with the silver version it saw, in ``self.log``;
        ``check`` replays the log on DuckDB afterwards. The file census
        and version lookups inside the region go through
        ``client.aside`` and are left out of ``wall_s``."""
        from pyspark.sql import functions as F

        from databricks_data_warehouse_spark.pipelines import (
            DomainRule, FkRule, bronze_ingest, build_gold, validate_to_silver)

        spark = client.spark
        seen_start: dict[str, int] = {}
        self._census(seen_start)
        seen = dict(seen_start)
        self.log: list[tuple[str, Op, dict]] = []
        self.kept_ratios: list[float] = []
        self.strategies: list[str] = []
        ckpt = os.path.join(self.ctx.run_dir, "stream", "checkpoint")
        cdf_out = os.path.join(self.ctx.run_dir, "stream", "sink")

        def version() -> int:
            with client.aside():
                return self.silver.current_version()

        def census() -> None:
            with client.aside():
                self._census(seen)

        t0 = time.time()
        drained_to = -1
        for i, batch in enumerate(self.plan.batches):
            path = self.batch_paths[i]
            lo, hi = i * self.rows_per_batch, (i + 1) * self.rows_per_batch - 1
            v_start = version()
            bronze = client.call(
                "bronze_ingest", "pipelines", "commit",
                lambda: bronze_ingest(
                    spark, spark.read.parquet(path), self._loc("bronze_orders"),
                    "bronze_orders", timestamp_column="o_orderdate",
                    dedup_columns=["o_orderkey"]))
            if bronze is None:
                continue
            counts = client.call(
                "validate_to_silver", "pipelines", "commit",
                lambda: validate_to_silver(
                    spark,
                    bronze.read().filter(F.col("o_orderkey").between(lo, hi)),
                    self.silver, self._loc("dlq_orders"), "dlq_orders",
                    id_columns=["o_orderkey"],
                    ingestion_timestamp="bronze_ingestion_time",
                    rules=[DomainRule("o_orderstatus", STATUS_DOMAIN)],
                    fk_rules=[FkRule("o_custkey", self.customers,
                                     "c_custkey")],
                    silver_columns=ORDER_COLS))
            self.log.append(("ingest", client.ops[-1],
                             {"batch": i, "got": counts, "version": version()}))
            census()

            def gold_df():
                o = self.silver.read()
                c = self.customers.select("c_custkey", "c_mktsegment")
                return o.join(c, o.o_custkey == c.c_custkey).groupBy(
                    "c_mktsegment", "year", "month").agg(
                        F.count("*").alias("order_count")), o.count()

            client.call(
                "build_gold", "pipelines", "commit",
                build=gold_df,
                action=lambda g: build_gold(
                    spark, g[0], self._loc("gold_orders_by_segment"),
                    "gold_orders_by_segment",
                    key_columns=["c_mktsegment", "year", "month"],
                    count_column="order_count", expected_total=g[1],
                    partition_columns=["year"]))
            self.log.append(("gold", client.ops[-1], {}))
            census()

            for name, keys, dv in (
                ("delete_where_mor", batch.mor_delete_keys, True),
                ("update_where_mor", batch.mor_update_keys, True),
                ("delete_where_cow", batch.cow_delete_keys, False),
            ):
                if not keys:
                    continue
                cond = F.col("o_orderkey").isin(keys)
                if name.startswith("update"):
                    client.call(name, "tables", "commit", lambda c=cond, d=dv:
                                self.silver.update_where(
                                    {"o_totalprice": "o_totalprice + 1.0"}, c,
                                    deletion_vectors=d))
                else:
                    client.call(name, "tables", "commit", lambda c=cond, d=dv:
                                self.silver.delete_where(c, deletion_vectors=d))
                self.log.append((name.split("_")[0], client.ops[-1],
                                 {"keys": keys, "version": version()}))
                census()
            v = version()

            # reads of the new snapshot
            month = int(batch.orders.column("o_orderdate")[0].as_py().month)
            filters = [("year", "=", 2023), ("month", "=", month)]
            got = client.call("scan_partition", "tables", "read",
                              lambda: self.silver.scan(filters).count())
            self.log.append(("scan", client.ops[-1],
                             {"version": v, "month": month, "got": got}))
            with client.aside():
                rep = self.silver.skipping_report(filters)
            self.kept_ratios.append(rep["files_kept"] / max(1, rep["files_total"]))

            got = client.call("read_version", "tables", "read",
                              lambda: self.silver.read(version=v - 2).count())
            self.log.append(("read_version", client.ops[-1],
                             {"version": v - 2, "got": got}))

            feed = client.call(
                "changes", "tables", "read",
                lambda: self.silver.changes(v_start).select(
                    "o_orderkey", "o_orderstatus", "o_totalprice",
                    "_change_type").collect())
            self.strategies.append(getattr(self.silver, "last_changes_strategy", ""))
            self.log.append(("changes", client.ops[-1],
                             {"since": v_start, "version": v, "got": feed}))

            rows = client.call(
                "drain_change_stream", "streaming", "read",
                lambda since=drained_to: self._drain(spark, since, cdf_out, ckpt))
            self.log.append(("drain", client.ops[-1],
                             {"since": drained_to, "version": v, "got": rows}))
            drained_to = v
            census()

        for name in ("silver_orders", "dlq_orders"):
            tbl = self._table(spark, name)
            client.call(f"optimize_{name}", "tables", "commit",
                        lambda t=tbl: t.optimize())
        census()
        for name in self.TABLES:
            tbl = self._table(spark, name)
            client.call(f"vacuum_{name}", "tables", "maintenance",
                        lambda t=tbl: t.vacuum())
        t1 = time.time()
        self._census(seen)
        added = [s for p, s in seen.items() if p not in seen_start]
        self.amp["write_amp"] = sum(added) / self.input_bytes
        self.amp["files_added"] = len(added)
        self.amp["bytes_added"] = sum(added)
        self.amp["bookkeeping_s"] = client.bookkeeping_s
        return t0, t1

    def _drain(self, spark, since: int, out: str, ckpt: str):
        """availableNow drain of the silver change feed into a parquet
        sink; returns the change rows of commits after ``since``."""
        from pyspark.sql import functions as F

        q = (
            self.silver.read_change_stream()
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return spark.read.parquet(out).filter(
            F.col("_commit_version") > since
        ).select("o_orderkey", "o_orderstatus", "o_totalprice",
                 "_change_type").collect()

    def _stream_expectation(self, since: int, upto: int) -> dict[str, list]:
        """The change rows of every silver commit in (since, upto]:
        per-version diffs of the replay snapshots."""
        snaps = self.replay.snapshots
        versions = sorted(v for v in snaps if since < v <= upto)
        out: dict[str, list] = {"insert": [], "delete": []}
        prev = snaps[since] if since >= 0 else []
        for v in versions:
            d = _diff(prev, snaps[v])
            out["insert"] += d["insert"]
            out["delete"] += d["delete"]
            prev = snaps[v]
        return {k: sorted(v) for k, v in out.items()}

    def replay_log(self, client: Client) -> None:
        """Replay the run's log on DuckDB, in order: conservation counts
        of every ``validate_to_silver``, then every read against the
        replayed snapshot it saw. A mismatch fails its operation."""
        rp = self.replay
        for kind, op, a in self.log:
            got = a.get("got")
            if kind == "ingest":
                batch = self.plan.batches[a["batch"]]
                nv, ni = rp.ingest(self.batch_paths[a["batch"]])
                if got != {"batch": self.rows_per_batch, "valid": nv, "invalid": ni}:
                    client.fail(op, f"silver counts {got} != replay {nv}/{ni}")
                if ni != batch.dirty + batch.dead:
                    client.fail(op, f"replay invalid {ni} != injected "
                                f"{batch.dirty}+{batch.dead}")
                rp.snapshot(a["version"])
            elif kind == "gold":
                rp.gold_upsert()
            elif kind in ("delete", "update"):
                getattr(rp, kind)(a["keys"])
                rp.snapshot(a["version"])
            elif kind == "scan":
                want = sum(1 for k, *_ in rp.snapshots[a["version"]]
                           if self.month_of[k] == a["month"])
                if got != want:
                    client.fail(op, f"scan {got} != {want}")
            elif kind == "read_version":
                want = len(rp.snapshots[a["version"]]) if a["version"] in \
                    rp.snapshots else None
                if got != want:
                    client.fail(op, f"read(v{a['version']}) {got} != {want}")
            elif kind == "changes":
                want = _diff(rp.snapshots.get(a["since"], []),
                             rp.snapshots[a["version"]])
                if got is None or _feed(got) != want:
                    client.fail(op, "changes() differs from the replay diff")
            elif kind == "drain":
                if got is None or _feed(got) != self._stream_expectation(
                        a["since"], a["version"]):
                    client.fail(op, "change stream differs from the replay")

    def check(self, client: Client) -> dict:
        """The replay of the run's log, then
        final silver, DLQ and gold against the replay; returns the
        amplification figures."""
        import pandas as pd

        import check_oracle

        self.replay_log(client)
        spark = client.spark
        last = client.ops[-1] if client.ops else None
        rp = self.replay
        finals = {
            "silver_orders": ("silver", ["o_orderkey", "o_custkey",
                                         "o_orderstatus", "o_totalprice",
                                         "year", "month"]),
            "dlq_orders": ("dlq", ["o_orderkey", "o_custkey", "o_orderstatus",
                                   "o_totalprice", "year", "month"]),
            "gold_orders_by_segment": ("gold", ["c_mktsegment", "year", "month",
                                                "order_count"]),
        }
        plain_bytes = files_live = 0
        plain_dir = os.path.join(self.ctx.run_dir, "plain")
        os.makedirs(plain_dir, exist_ok=True)
        for name in self.TABLES:
            table = self._table(spark, name)
            files_live += table.skipping_report()["files_total"]
            snap = table.read().toPandas()
            # live snapshot written once as plain parquet: space_amp base
            path = os.path.join(plain_dir, f"{name}.parquet")
            snap.to_parquet(path, index=False)
            plain_bytes += os.path.getsize(path)
            if name not in finals:
                continue
            rtable, cols = finals[name]
            want = rp.con.execute(f"SELECT {', '.join(cols)} FROM {rtable}").fetchdf()
            got = snap[cols].copy()
            for c in ("year", "month"):
                got[c] = got[c].astype("int64")
                want[c] = want[c].astype("int64")
            verdict = check_oracle.compare(name, got, pd.DataFrame(want))
            if verdict != "OK":
                client.fail(last, f"final {name} differs from replay: {verdict}")
        live = sum(dir_usage(self._loc(name))[0] for name in self.TABLES)
        self.amp["space_amp"] = live / plain_bytes
        self.amp["table_bytes_live"] = live
        self.amp["files_live"] = files_live
        self.amp["plain_bytes"] = plain_bytes
        self.amp["changes_strategies"] = self.strategies
        self.amp["scan_files_kept_ratio"] = (
            sum(self.kept_ratios) / len(self.kept_ratios) if self.kept_ratios else 0.0)
        self.amp["cdf_incremental_ratio"] = (
            sum(s == "incremental" for s in self.strategies) / len(self.strategies)
            if self.strategies else 0.0)
        return self.amp


WORKLOADS = {w.name: w for w in (BiCuration, LakehouseWrites)}
