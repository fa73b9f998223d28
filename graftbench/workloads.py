"""The workloads: seeded corpus, operation lists, correctness checks.

A workload run is set-up, an untimed warm-up pass that also checks every
operation's output, then timed passes over a fixed, seed-ordered list of
operations. Query operations call ``registry.queries()[name](spark, dir)``
and then a noop-sink write. ``lake_dml`` calls the ``sources.versioned``
and ``sources.python_datasource`` functions on a fresh versioned table and
checks each result against a pandas replay of the same seeded sequence.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np

from graftbench.layers import tree_bytes_files


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    #: Typical wall time of one pass on the 4-core VM; a run makes
    #: round(seconds / pass_s) timed passes, at least one.
    pass_s: float


#: Corpus size of every workload, as a multiple of sf0.1 row counts.
SCALE = 0.1


#: Relational and scan queries: bound by fixed per-query costs (planning,
#: jobs launched, the JVM scan), almost no Python-worker work.
SCAN_OPS = (
    "scan_partition_filter",
    "q5_local_supplier_volume",
    "snapshot_pruned_scan",
)

#: Dedup, text and codec queries: data-proportional shuffle, pair
#: generation and Python-worker work.
CURATION_OPS = (
    "dedup_minhash_verified",
    "multimodal_jpeg_decode",
)

LAKE_ROUND = ("append", "delete", "update", "merge", "snapshot_count",
              "point_read", "pyds_count", "stream_tail", "compact", "vacuum")
COMMIT_OPS = ("append", "delete", "update", "merge", "compact", "vacuum")
READ_OPS = ("snapshot_count", "point_read", "pyds_count")

WORKLOADS = {
    w.name: w
    for w in (
        # Why each workload exists is recorded in BENCHMARK.json.
        # A query_mix pass is short, and its CPU time falls over the first
        # passes as the JVM compiles hot code, so it runs three passes and
        # reports their median; lake_dml's one pass takes about as long.
        Workload("query_mix", SCAN_OPS + CURATION_OPS, 4.5),
        Workload("lake_dml", LAKE_ROUND, 14.0),
    )
}


# --------------------------------------------------------------------------
# corpus


def _load_module(root: str, rel: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def generate_corpus(root: str, out: str, scale: float, seed: int) -> None:
    """Write the ``scripts/gen_scale_corpus.py`` corpus with the workload
    seed folded into every table's generator seed. The script is driven
    from here, not edited: its own seed is ``42 ^ md5(table:scale)``."""
    import numpy.random as npr

    gen = _load_module(root, "scripts/gen_scale_corpus.py", "graftbench_gen_corpus")

    def seeded_rng(table: str, sc: float) -> np.random.Generator:
        h = hashlib.md5(f"{table}:{sc}".encode()).digest()
        mix = hashlib.md5(f"graftbench:{seed}".encode()).digest()
        return npr.Generator(npr.PCG64(
            42 ^ int.from_bytes(h[:8], "big") ^ int.from_bytes(mix[:8], "big")
        ))

    gen._rng = seeded_rng
    os.makedirs(out)
    gen.gen_dims(out, scale, 8)
    gen.gen_facts(out, scale, 8)
    gen.gen_documents(out, scale, 8)
    gen.gen_embeddings(out, scale, 8)


def generator_digest(root: str) -> str:
    with open(os.path.join(root, "scripts/gen_scale_corpus.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


# --------------------------------------------------------------------------
# oracle


def _duck_connection(corpus: str, spill_dir: str):
    """DuckDB views over the corpus. ``tests/compare.duck_connection`` reads
    ``<table>.parquet`` as one file; the generator writes part directories,
    so directories are globbed here."""
    import duckdb

    from argodb_mapreduce_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    os.makedirs(spill_dir, exist_ok=True)
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    for t in TABLES:
        p = table_path(corpus, t)
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def result_digest(pdf, canon_rows) -> dict:
    """Row count and a digest of the sorted column names and the
    ``tests/compare.canon_rows`` form of every row."""
    rows = canon_rows(pdf)
    h = hashlib.sha256(repr((sorted(pdf.columns), rows)).encode()).hexdigest()
    return {"rows": len(rows), "digest": h}


class OracleCache:
    """DuckDB oracle digests, cached on disk per (corpus, seed, query SQL).

    With ``compute=False`` a missing digest raises ``KeyError`` instead of
    running DuckDB: the engine process only checks the cache that the
    benchmark filled before it started."""

    def __init__(self, cache_dir: str, key: str, corpus: str, spill_dir: str, canon_rows,
                 compute: bool = True):
        os.makedirs(cache_dir, exist_ok=True)
        self.path = os.path.join(cache_dir, f"{key}.json")
        self.corpus, self.spill_dir, self.canon_rows = corpus, spill_dir, canon_rows
        self.compute = compute
        self.entries = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.entries = json.load(f)
        self.hits = self.misses = 0

    def get(self, name: str, sql: str) -> dict:
        k = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        if k in self.entries:
            self.hits += 1
            return self.entries[k]
        if not self.compute:
            raise KeyError(f"no cached oracle digest for {name}")
        self.misses += 1
        con = _duck_connection(self.corpus, self.spill_dir)
        try:
            pdf = con.execute(sql).df()
        finally:
            con.close()
        self.entries[k] = result_digest(pdf, self.canon_rows)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.entries, f)
        os.replace(tmp, self.path)
        return self.entries[k]


# --------------------------------------------------------------------------
# shared run state


@dataclass
class Ctx:
    spark: object
    corpus: str
    seed: int
    work: str  # scratch directory of the engine process
    tracer: object
    samples: list = field(default_factory=list)  # (op name, kind, seconds)
    failures: list = field(default_factory=list)  # (op name, message)
    attempted: int = 0


def pass_order(ops: tuple, seed: int, pass_no: int) -> list:
    order = list(ops)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


# --------------------------------------------------------------------------
# query workloads


class QueryWorkload:
    def __init__(self, spec: Workload, queries: dict, oracle_sql: dict):
        missing = [n for n in spec.ops if n not in queries or n not in oracle_sql]
        if missing:
            raise KeyError(f"{spec.name}: not registered with an oracle: {missing}")
        self.spec, self.queries, self.oracle_sql = spec, queries, oracle_sql

    def stage(self, ctx: Ctx) -> None:
        """Build every operation's DataFrame once: derived fixtures are
        staged here, outside the timed region."""
        for name in self.spec.ops:
            self.queries[name](ctx.spark, ctx.corpus)

    def check_pass(self, ctx: Ctx, oracle: OracleCache, canon_rows) -> None:
        """Warm-up pass: run each operation, collect it, compare with the
        oracle twin. Untimed."""
        for name in pass_order(self.spec.ops, ctx.seed, -1):
            ctx.attempted += 1
            try:
                got = result_digest(self.queries[name](ctx.spark, ctx.corpus).toPandas(), canon_rows)
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                ctx.failures.append((name, f"raised {type(e).__name__}: {str(e)[:200]}"))
                continue
            try:
                want = oracle.get(name, self.oracle_sql[name])
            except KeyError as e:
                ctx.failures.append((name, str(e)))
                continue
            if got != want:
                ctx.failures.append((name, f"oracle mismatch: spark {got['rows']} rows, "
                                           f"duckdb {want['rows']} rows"))

    def run_pass(self, ctx: Ctx, pass_no: int) -> None:
        fn_of, spark, corpus = self.queries, ctx.spark, ctx.corpus
        for name in pass_order(self.spec.ops, ctx.seed, pass_no):
            ctx.attempted += 1
            with ctx.tracer.op(name, "query") as op:
                t0 = time.perf_counter()
                try:
                    with op.span("build"):
                        df = fn_of[name](spark, corpus)
                    op.mark_build_done()
                    op.plan(df)
                    with op.span("action"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                    ctx.failures.append((name, f"raised {type(e).__name__}: {str(e)[:200]}"))
                ctx.samples.append((name, "query", time.perf_counter() - t0))

    def finish(self, ctx: Ctx) -> dict:
        return {}


# --------------------------------------------------------------------------
# lake_dml


class LakeWorkload:
    """A fresh versioned table built from the corpus ``orders``; each round
    appends, deletes a key range, updates a key range, merges recent and
    new keys, reads a snapshot count, a point row and a pyds count, and
    tails the new versions with an availableNow change-feed stream, then
    compacts and vacuums, so every pass starts from a one-segment table
    with two versions. A pandas frame replays the same sequence and checks
    every result."""

    APPEND_ROWS = 1000
    DELETE_WIDTH = 300
    UPDATE_WIDTH = 300
    MERGE_MATCHED = 400
    MERGE_NEW = 200

    def __init__(self, spec: Workload):
        self.spec = spec

    # -- set-up ------------------------------------------------------------
    def stage(self, ctx: Ctx) -> None:
        from argodb_mapreduce_spark.catalog import load_table
        from argodb_mapreduce_spark.sources import python_datasource as P
        from argodb_mapreduce_spark.sources import versioned as V

        self.table = os.path.join(ctx.work, "lake_orders")
        self.checkpoint = os.path.join(ctx.work, "lake_stream_ck")
        orders = load_table(ctx.spark, ctx.corpus, "orders")
        self.schema = orders.schema
        V.versioned_write(orders, self.table, mode="append")
        V.enable_change_data_feed(self.table)
        P.register_datasource(ctx.spark)
        self.replay = orders.toPandas().set_index("o_orderkey", drop=False)
        self.replay.index.name = None
        self.next_key = int(self.replay["o_orderkey"].max()) + 1
        self.first_stream_version = V.versions(self.table)[-1] + 1
        self.pending_legs = 0
        self.rng = np.random.default_rng([ctx.seed, 7])

    def check_pass(self, ctx: Ctx, oracle, canon_rows) -> None:
        self.run_pass(ctx, -1)

    # -- operations --------------------------------------------------------
    def _rows(self, keys: np.ndarray):
        """Seeded order rows with the given keys."""
        import pandas as pd

        g, n = self.rng, len(keys)
        return pd.DataFrame({
            "o_orderkey": keys.astype("int64"),
            "o_custkey": g.integers(0, 7_500, n).astype("int64"),
            "o_orderstatus": np.array(["O", "F", "P"])[g.integers(0, 3, n)],
            "o_totalprice": np.round(g.uniform(900, 500_000, n), 2),
            "o_orderdate": (np.datetime64("1995-01-01")
                            + g.integers(0, 2405, n).astype("timedelta64[D]")).astype("datetime64[us]"),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[g.integers(0, 5, n)],
        })[list(self.schema.fieldNames())]

    def _df(self, spark, pdf):
        return spark.createDataFrame(pdf, schema=self.schema)

    def run_pass(self, ctx: Ctx, pass_no: int) -> None:
        plan = self._draw_round()
        for name in LAKE_ROUND:
            self._op(ctx, name, plan)

    def _draw_round(self) -> dict:
        g, top = self.rng, self.next_key
        live = self.replay.index.to_numpy()
        append_keys = np.arange(top, top + self.APPEND_ROWS)
        recent = live[live >= max(0, top - 4 * self.APPEND_ROWS)]
        merge_keys = np.concatenate([
            g.choice(recent, size=min(self.MERGE_MATCHED, len(recent)), replace=False),
            np.arange(top + self.APPEND_ROWS, top + self.APPEND_ROWS + self.MERGE_NEW),
        ])
        lo_del = int(g.integers(0, max(1, top // 2)))
        lo_upd = int(g.integers(max(0, top - 3 * self.APPEND_ROWS), top))
        return {
            "append": self._rows(append_keys),
            "delete": (lo_del, lo_del + self.DELETE_WIDTH),
            "update": (lo_upd, lo_upd + self.UPDATE_WIDTH),
            "merge": self._rows(merge_keys),
            "point": int(g.choice(live)),
        }

    def _op(self, ctx: Ctx, name: str, plan: dict) -> None:
        kind = "commit" if name in COMMIT_OPS else ("read" if name in READ_OPS else "stream")
        ctx.attempted += 1
        with ctx.tracer.op(name, kind) as op:
            before = tree_bytes_files(self.table) if ctx.tracer.enabled and kind == "commit" else None
            t0 = time.perf_counter()
            try:
                with op.span(kind):
                    result = getattr(self, "_do_" + name)(ctx, plan, op)
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                ctx.samples.append((name, kind, time.perf_counter() - t0))
                ctx.failures.append((name, f"raised {type(e).__name__}: {str(e)[:200]}"))
                return
            dt = time.perf_counter() - t0
            ctx.samples.append((name, kind, dt))
            if before is not None:
                after = tree_bytes_files(self.table)
                new = [p for p in after if p not in before]
                op.count(f"versioned.commit_s.{name}", dt)
                op.count("versioned.bytes_written", sum(after[p] for p in new))
                op.count("versioned.files_written", len(new))
            if ctx.tracer.enabled:
                self._store_layers(op)
        problem = getattr(self, "_check_" + name)(plan, result)
        if problem:
            ctx.failures.append((name, problem))

    def _store_layers(self, op) -> None:
        from argodb_mapreduce_spark.sources import manifest_log
        from argodb_mapreduce_spark.sources import versioned as V

        t0 = time.perf_counter()
        n_versions = len(V.versions(self.table))
        op.count("manifest_log.read_s", time.perf_counter() - t0)
        op.count("versioned.versions", n_versions)
        op.count("versioned.live_segments", len(manifest_log.head_entry(self.table)["segments"]))

    def _do_append(self, ctx, plan, op):
        from argodb_mapreduce_spark.sources import versioned as V

        return V.versioned_write(self._df(ctx.spark, plan["append"]), self.table, mode="append")

    def _check_append(self, plan, result):
        rows = plan["append"]
        self.replay = _concat(self.replay, rows)
        self.next_key = int(rows["o_orderkey"].max()) + 1 + self.MERGE_NEW
        self.pending_legs += len(rows)
        return None

    def _do_delete(self, ctx, plan, op):
        from argodb_mapreduce_spark.sources import versioned as V

        lo, hi = plan["delete"]
        return V.delete_where(ctx.spark, self.table, [("o_orderkey", ">=", lo), ("o_orderkey", "<", hi)])

    def _check_delete(self, plan, result):
        lo, hi = plan["delete"]
        hit = (self.replay.index >= lo) & (self.replay.index < hi)
        n = int(hit.sum())
        self.replay = self.replay[~hit]
        self.pending_legs += n
        return None if result[1] == n else f"deleted {result[1]} rows, replay {n}"

    def _do_update(self, ctx, plan, op):
        from pyspark.sql import functions as F

        from argodb_mapreduce_spark.sources import versioned as V

        lo, hi = plan["update"]
        return V.update_where(
            ctx.spark, self.table, [("o_orderkey", ">=", lo), ("o_orderkey", "<", hi)],
            {"o_totalprice": F.col("o_totalprice") + F.lit(1.0)},
        )

    def _check_update(self, plan, result):
        lo, hi = plan["update"]
        hit = (self.replay.index >= lo) & (self.replay.index < hi)
        n = int(hit.sum())
        self.replay.loc[hit, "o_totalprice"] = self.replay.loc[hit, "o_totalprice"] + 1.0
        self.pending_legs += 2 * n
        got = result.get("rows_updated")
        return None if got == n else f"updated {got} rows, replay {n}"

    def _do_merge(self, ctx, plan, op):
        from argodb_mapreduce_spark.sources import versioned as V

        return V.merge_upsert(ctx.spark, self.table, self._df(ctx.spark, plan["merge"]), "o_orderkey")

    def _check_merge(self, plan, result):
        src = plan["merge"]
        matched = int(src["o_orderkey"].isin(self.replay.index).sum())
        self.replay = _concat(self.replay[~self.replay.index.isin(src["o_orderkey"])], src)
        self.pending_legs += 2 * matched + (len(src) - matched)
        return None

    def _do_snapshot_count(self, ctx, plan, op):
        from argodb_mapreduce_spark.sources import versioned as V

        return V.snapshot_read(ctx.spark, self.table).count()

    def _check_snapshot_count(self, plan, result):
        n = len(self.replay)
        return None if result == n else f"snapshot has {result} rows, replay {n}"

    def _do_point_read(self, ctx, plan, op):
        from argodb_mapreduce_spark.sources import versioned as V

        rows = V.snapshot_read(
            ctx.spark, self.table, predicates=[("o_orderkey", "=", plan["point"])]
        ).select("o_totalprice").collect()
        return [r[0] for r in rows]

    def _check_point_read(self, plan, result):
        k = plan["point"]
        want = [float(self.replay.at[k, "o_totalprice"])] if k in self.replay.index else []
        return None if result == want else f"point {k}: {result}, replay {want}"

    def _do_pyds_count(self, ctx, plan, op):
        from argodb_mapreduce_spark.sources import python_datasource as P

        t0 = time.perf_counter()
        n = P.read_versioned(ctx.spark, self.table).count()
        op.count("python_datasource.read_s", time.perf_counter() - t0)
        return n

    _check_pyds_count = _check_snapshot_count

    def _do_stream_tail(self, ctx, plan, op):
        from argodb_mapreduce_spark.sources import python_datasource as P

        q = (
            ctx.spark.readStream.format(P.FORMAT_NAME)
            .option("readChangeFeed", "true")
            .option("startingVersion", str(self.first_stream_version))
            .load(self.table)
            .writeStream.format("noop")
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        op.add_group(str(q.runId))
        progress = q.recentProgress
        rows = sum(int(p["numInputRows"]) for p in progress)
        op.count("streaming.tail_s", sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0)
        op.count("streaming.batches", sum(1 for p in progress if p["numInputRows"] > 0))
        op.count("streaming.rows", rows)
        return rows

    def _check_stream_tail(self, plan, result):
        want, self.pending_legs = self.pending_legs, 0
        return None if result == want else f"stream read {result} change rows, replay {want}"

    def _do_compact(self, ctx, plan, op):
        from argodb_mapreduce_spark.sources import versioned as V

        return V.compact(ctx.spark, self.table)

    def _check_compact(self, plan, result):
        from argodb_mapreduce_spark.sources import manifest_log

        segs = len(manifest_log.head_entry(self.table)["segments"])
        return None if segs == 1 else f"compact left {segs} segments"

    def _do_vacuum(self, ctx, plan, op):
        from argodb_mapreduce_spark.sources import versioned as V

        return V.vacuum(self.table, keep_versions=2)

    def _check_vacuum(self, plan, result):
        from argodb_mapreduce_spark.sources import versioned as V

        n = len(V.versions(self.table))
        return None if n == 2 else f"vacuum kept {n} versions"

    # -- end of run --------------------------------------------------------
    def finish(self, ctx: Ctx) -> dict:
        """Final live key set and row count against the replay, and the
        space amplification of the table on disk."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from argodb_mapreduce_spark.sources import versioned as V

        ctx.attempted += 1
        keys = V.snapshot_read(ctx.spark, self.table).select("o_orderkey").toPandas()["o_orderkey"]
        want = np.sort(self.replay.index.to_numpy())
        if len(keys) != len(want) or not np.array_equal(np.sort(keys.to_numpy()), want):
            ctx.failures.append(("final_state", f"live keys {len(keys)}, replay {len(want)}"))
        plain = os.path.join(ctx.work, "live_rows.parquet")
        pq.write_table(pa.Table.from_pandas(self.replay, preserve_index=False), plain)
        table_bytes = sum(tree_bytes_files(self.table).values())
        return {"space_amp": table_bytes / os.path.getsize(plain),
                "table_bytes": table_bytes}


def _concat(a, b):
    import pandas as pd

    b = b.set_index("o_orderkey", drop=False)
    b.index.name = None
    return pd.concat([a, b])


def make(name: str, queries: dict, oracle_sql: dict):
    spec = WORKLOADS[name]
    if name == "lake_dml":
        return LakeWorkload(spec)
    return QueryWorkload(spec, queries, oracle_sql)
