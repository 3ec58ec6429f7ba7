"""The four workloads. Each one turns a seed into a list of operations
per sweep and knows how to check every operation's output against
DuckDB. Operations call daft_spark the way a user would; the spans
around those calls are no-ops unless the run is traced."""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa

import datagen
import oracle
import stats

# Sizes chosen so that one run of every workload fits the time budget of
# BENCHMARK.json on a 4-core host; see README.md.
TPCH_BASE_SF = 0.01
TPCH_SHARDS = 4
CORPUS_DOCS = 2000
CORPUS_DUP_RATE = 0.04
DATA_SEED = 42  # the tables and the corpus; the run seed picks order and parameters

TPCH_QUERIES = {  # headline registry queries -> tables they scan
    "tpch_q1": ("lineitem",),
    "tpch_q3": ("customer", "orders", "lineitem"),
    "tpch_q5": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "tpch_q6": ("lineitem",),
    "tpch_q9": ("part", "lineitem", "supplier", "orders", "nation"),
    "tpch_q10": ("customer", "orders", "lineitem", "nation"),
    "tpch_q13": ("customer", "orders"),
    "tpch_q18": ("customer", "orders", "lineitem"),
    "tpch_q21": ("lineitem", "orders", "supplier", "nation"),
}

CURATION_QUERIES = (  # independent stages; the run seed picks their order
    "text_quality",
    "dedup_minhash_lsh_pipeline",  # measured through bench.py's raw-pairs override
    "dedup_resolve_containment",
    "mm_embed_text",
)

SERVE_TEMPLATES = {  # name -> (Spark/DuckDB SQL, tables it reads)
    "point_lookup": (
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
        "WHERE c_custkey = {cust}",
        ("customer",),
    ),
    "order_list": (
        "SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus FROM orders "
        "WHERE o_custkey = {cust} ORDER BY o_orderdate DESC, o_orderkey LIMIT 20",
        ("orders",),
    ),
    "date_range_agg": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "sum(l_extendedprice) AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '{d0}' AND l_shipdate < TIMESTAMP '{d1}' "
        "GROUP BY l_returnflag, l_linestatus",
        ("lineitem",),
    ),
    "nation_topk": (
        "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_nationkey = {nation} "
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 10",
        ("customer",),
    ),
    "customer_revenue": (
        "SELECT o_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE o_custkey = {cust} GROUP BY o_orderkey",
        ("orders", "lineitem"),
    ),
}


@dataclass
class Op:
    name: str
    rows: int  # input rows the operation reads or writes
    run: Callable[[], object]
    check: Callable[[object], str | None] | None = None  # None = nothing to compare


class Ctx:
    """What every workload needs: paths, host size, the session, tracer."""

    def __init__(self, root: str, work: str, cache: str, cores: int, seed: int, tracer):
        self.root, self.work, self.cache = root, work, cache
        self.cores, self.seed, self.tracer = cores, seed, tracer
        self.spark = None
        self.cached_bytes = 0

    def note_cached_bytes(self) -> None:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        total = sum(i.memSize() + i.diskSize() for i in infos)
        self.cached_bytes = max(self.cached_bytes, total)

    def run_df(self, build_span: str, build, release: bool = True) -> pa.Table:
        """Build a DataFrame, force its physical plan, materialize it as
        Arrow, then drop whatever the build persisted."""
        from daft_spark.context import release_caches

        tr = self.tracer
        with tr.span(build_span):
            df = build()
        with tr.span("engine.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("engine.exec"):
            table = df.toArrow()
        if release:
            if tr.enabled:
                self.note_cached_bytes()
            with tr.span("context.release_caches"):
                release_caches(self.spark)
        return table


class Workload:
    name = ""
    clients = 1
    sweep_is_op = False  # True: a user sees one sweep as one operation

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        """Per-session set-up, timed as part of setup_s."""

    def sweep(self, rng: random.Random) -> list[Op]:
        raise NotImplementedError

    def end_sweep(self) -> None:
        """Untimed clean-up after each sweep."""

    def input_rows(self) -> dict[str, int]:
        return {}


class _Oracled(Workload):
    """Workloads over fixed parquet inputs checked against DuckDB."""

    tables: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx, data_dir: str):
        super().__init__(ctx)
        self.data_dir = data_dir
        self.rows = datagen.row_counts(data_dir, self.tables)
        self._duck = None
        self._expected: dict[str, pa.Table] = {}

    def duck(self):
        if self._duck is None:
            self._duck = oracle.connect(self.data_dir, self.tables, self.ctx.cores)
        return self._duck

    def expect(self, key: str, sql: str, rtol: float = 1e-6):
        def check(got: pa.Table) -> str | None:
            if key not in self._expected:
                self._expected[key] = self.duck().execute(sql).arrow()
            return oracle.mismatch(got, self._expected[key], rtol)

        return check

    def input_rows(self) -> dict[str, int]:
        return self.rows


class ServeSql(_Oracled):
    """Parameterized SQL from concurrent clients over one session."""

    name = "serve_sql"
    tables = datagen.TPCH_TABLES

    def __init__(self, ctx: Ctx):
        super().__init__(
            ctx, datagen.tpch_dataset(ctx.root, ctx.cache, TPCH_BASE_SF, TPCH_SHARDS, DATA_SEED)
        )
        self.clients = min(4, ctx.cores)

    def prepare(self) -> None:
        from daft_spark.io.readers import register_views

        register_views(self.ctx.spark, self.data_dir, self.tables)

    def sweep(self, rng: random.Random) -> list[Op]:
        from daft_spark.sql import sql

        names = list(SERVE_TEMPLATES)
        rng.shuffle(names)
        ops = []
        for name in names:
            text, tables = SERVE_TEMPLATES[name]
            d0 = 9131 + rng.randrange(0, 2400)  # days since 1970, 1995-01-01 onward
            q = text.format(
                cust=rng.randrange(self.rows["customer"]),
                nation=rng.randrange(25),
                d0=np.datetime64(d0, "D"),
                d1=np.datetime64(d0 + rng.randrange(7, 60), "D"),
            )
            ops.append(
                Op(
                    name,
                    sum(self.rows[t] for t in tables),
                    lambda q=q: self.ctx.run_df(
                        "sql.sql", lambda: sql(q, spark=self.ctx.spark), release=False
                    ),
                    self.expect(q, q),
                )
            )
        return ops


class Tpch(_Oracled):
    """The nine headline TPC-H registry queries, in a seeded order."""

    name = "tpch"
    tables = datagen.TPCH_TABLES

    def __init__(self, ctx: Ctx):
        super().__init__(
            ctx, datagen.tpch_dataset(ctx.root, ctx.cache, TPCH_BASE_SF, TPCH_SHARDS, DATA_SEED)
        )
        self.registry = None

    def prepare(self) -> None:
        from daft_spark.queries import all_queries

        self.registry = all_queries()

    def sweep(self, rng: random.Random) -> list[Op]:
        names = list(TPCH_QUERIES)
        rng.shuffle(names)
        return [
            Op(
                n,
                sum(self.rows[t] for t in TPCH_QUERIES[n]),
                lambda n=n: self.ctx.run_df(
                    "queries.build",
                    lambda: self.registry[n].spark_fn(self.ctx.spark, self.data_dir),
                ),
                self.expect(n, self.registry[n].oracle),
            )
            for n in names
        ]


# Exact reference for the raw LSH pairs: every pair of documents sharing a
# padded 3-token shingle (the registry oracle's normalization), with its
# exact Jaccard. The corpus's unique documents share no shingle, so this
# self-join stays near-linear.
_EXACT_PAIRS = """
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t)+1),
                i -> t[i] || chr(31) || coalesce(t[i+1],'') || chr(31)
                     || coalesce(t[i+2],''))) AS s
      FROM toks),
    n AS (SELECT doc_id, count(*) AS k FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, CAST(inter.k AS DOUBLE) / (na.k + nb.k - inter.k) AS jaccard
    FROM inter JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
"""


class Curation(_Oracled):
    """One curation pipeline over a fixed corpus: quality scoring,
    near-dup mining, near-dup resolution and text embedding. The
    pipeline is the user's operation. Its stages each read the corpus,
    so the run seed orders them. It does not draw the corpus: the
    duplicate structure can change how many rounds the dedup stages
    take, and runs with different seeds should do the same work."""

    name = "curation"
    tables = ("documents",)
    sweep_is_op = True

    def __init__(self, ctx: Ctx):
        super().__init__(
            ctx,
            datagen.corpus_dataset(
                ctx.root, ctx.cache, CORPUS_DOCS, CORPUS_DUP_RATE, DATA_SEED
            ),
        )
        self.fns: dict = {}
        self.oracles: dict = {}

    def prepare(self) -> None:
        import bench
        from daft_spark.queries import all_queries

        reg = all_queries()
        self.fns = {n: reg[n].spark_fn for n in CURATION_QUERIES}
        self.fns.update(
            {n: f for n, f in bench.BENCH_OVERRIDES.items() if n in self.fns}
        )
        self.oracles = {n: reg[n].oracle for n in CURATION_QUERIES}
        self.oracles["dedup_minhash_lsh_pipeline"] = None

    def _check_lsh(self, got: pa.Table) -> str | None:
        """The registry contract, checked exactly: every emitted pair is a
        true >=0.5 pair with its exact Jaccard, and no >=0.9 pair is missed."""
        if "lsh" not in self._expected:
            self._expected["lsh"] = self.duck().execute(_EXACT_PAIRS).arrow()
        exact = {
            (a, b): j
            for a, b, j in zip(*(self._expected["lsh"].column(c).to_pylist()
                                 for c in ("id_a", "id_b", "jaccard")))
        }
        emitted = set()
        for a, b, j in zip(*(got.column(c).to_pylist() for c in ("id_a", "id_b", "jaccard"))):
            want = exact.get((a, b))
            if want is None or want < 0.5 or abs(want - j) > 1e-6:
                return f"pair ({a}, {b}) jaccard {j} vs exact {want}"
            emitted.add((a, b))
        missed = [p for p, j in exact.items() if j >= 0.9 and p not in emitted]
        return f"{len(missed)} pairs >= 0.9 missed" if missed else None

    def sweep(self, rng: random.Random) -> list[Op]:
        names = list(CURATION_QUERIES)
        rng.shuffle(names)
        ops = []
        for n in names:
            check = (
                self._check_lsh if self.oracles[n] is None else self.expect(n, self.oracles[n])
            )
            run = lambda n=n: self.ctx.run_df(  # noqa: E731
                "queries.build", lambda: self.fns[n](self.ctx.spark, self.data_dir)
            )
            ops.append(Op(n, self.rows["documents"], run, check))
        return ops


class LakeEtl(Workload):
    """A seeded commit sequence on a fresh Delta table per sweep:
    overwrite, append, MERGE upsert, deletion-vector delete, a snapshot
    aggregate, seven more appends, OPTIMIZE and a full read. The
    eleventh commit is an append, so the default checkpoint interval
    (10) fires. It is the user's operation; per-commit latencies are in
    the traced run."""

    name = "lake_etl"
    sweep_is_op = True
    BASE_ROWS, APPEND_ROWS, MERGE_ROWS, ROUNDS, TAIL_APPENDS = 20_000, 2_000, 2_000, 1, 7
    AGG = (
        "SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(qty) AS BIGINT) AS qty, "
        "sum(price) AS price FROM t GROUP BY grp"
    )

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.plan = self._plan(random.Random(ctx.seed))
        self.expected = self._replay()
        self.sweeps = 0
        self.path = None
        self.stats: list[dict] = []
        self._bytes_written = {"changed_rows": 0, "written": 0}

    def _batch(self, rng: random.Random, ids: list[int]) -> pa.Table:
        g = np.random.default_rng(rng.randrange(2**32))
        n = len(ids)
        return pa.table({
            "id": pa.array(ids, type=pa.int64()),
            "grp": pa.array(g.integers(0, 50, size=n), type=pa.int32()),
            "qty": pa.array(g.integers(1, 100, size=n), type=pa.int64()),
            "price": np.round(g.uniform(1.0, 1000.0, size=n), 2),
            "tag": [("a", "b", "c", "d")[i] for i in g.integers(0, 4, size=n)],
        })

    def _plan(self, rng: random.Random) -> list[tuple[str, object]]:
        plan: list[tuple[str, object]] = [
            ("overwrite", self._batch(rng, list(range(self.BASE_ROWS))))
        ]
        next_id = self.BASE_ROWS
        for _ in range(self.ROUNDS):
            plan.append(("append", self._batch(rng, list(range(next_id, next_id + self.APPEND_ROWS)))))
            next_id += self.APPEND_ROWS
            half = self.MERGE_ROWS // 2
            old = rng.sample(range(next_id), half)
            plan.append(("merge", self._batch(rng, old + list(range(next_id, next_id + half)))))
            next_id += half
            p = rng.randrange(7, 14)
            plan.append(("delete", f"id % {p} = {rng.randrange(p)} AND grp < {rng.randrange(20, 50)}"))
        plan.append(("read", None))
        for _ in range(self.TAIL_APPENDS):
            plan.append(("append", self._batch(rng, list(range(next_id, next_id + self.APPEND_ROWS)))))
            next_id += self.APPEND_ROWS
        plan += [("optimize", None), ("snapshot", None)]
        return plan

    def _replay(self) -> list[object]:
        """DuckDB replay of the plan: the expected result of each read
        and the number of rows each commit changed."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET autoinstall_known_extensions = false")
        out: list[object] = []
        for kind, arg in self.plan:
            before = con.execute("SELECT count(*) FROM t").fetchone()[0] if out else 0
            if kind == "overwrite":
                con.execute("CREATE TABLE t AS SELECT * FROM arg")
            elif kind == "append":
                con.execute("INSERT INTO t SELECT * FROM arg")
            elif kind == "merge":
                con.execute("UPDATE t SET qty = s.qty, price = s.price FROM arg s WHERE t.id = s.id")
                con.execute("INSERT INTO t SELECT * FROM arg WHERE id NOT IN (SELECT id FROM t)")
            elif kind == "delete":
                con.execute(f"DELETE FROM t WHERE {arg}")
            if kind == "read":
                out.append(con.execute(self.AGG).arrow())
            elif kind == "snapshot":
                out.append(con.execute("SELECT * FROM t").arrow())
            elif kind == "merge":
                out.append(arg.num_rows)
            elif kind == "delete":
                out.append(before - con.execute("SELECT count(*) FROM t").fetchone()[0])
            else:
                out.append(None)
        con.close()
        return out

    def input_rows(self) -> dict[str, int]:
        return {"written": sum(a.num_rows for k, a in self.plan if isinstance(a, pa.Table))}

    def _op(self, i: int, kind: str, arg) -> Op:
        from pyspark.sql import functions as F

        from daft_spark.io import delta

        ctx, tr = self.ctx, self.ctx.tracer
        rows = arg.num_rows if isinstance(arg, pa.Table) else 0
        check = None

        def commit(span, fn):
            def run():
                track = tr.enabled and kind in ("merge", "delete")
                before = _dir_bytes(self.path) if track else 0
                with tr.span(span):
                    fn()
                if track:
                    self._bytes_written["written"] += _dir_bytes(self.path) - before
                    self._bytes_written["changed_rows"] += self.expected[i]
            return run

        if kind in ("overwrite", "append"):
            run = commit("io.delta.write", lambda: delta.write_deltalake_py(
                ctx.spark.createDataFrame(arg), self.path, mode=kind))
        elif kind == "merge":
            run = commit("io.delta.merge", lambda: delta.merge_deltalake_py(
                self.path, ctx.spark, ctx.spark.createDataFrame(arg), "t.id = s.id",
                when_matched_update={"qty": "s.qty", "price": "s.price"},
                when_not_matched_insert=True))
        elif kind == "delete":
            run = commit("io.delta.delete", lambda: delta.delete_deltalake_dv_py(
                self.path, ctx.spark, arg))
        elif kind == "optimize":
            run = commit("io.delta.optimize", lambda: delta.optimize_deltalake_py(
                self.path, ctx.spark))
        else:
            def read_df():
                with tr.span("io.delta.read"):
                    df = delta.read_deltalake_py(self.path, ctx.spark)
                if kind == "snapshot":
                    return df
                return df.groupBy("grp").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("qty").alias("qty"),
                    F.sum("price").alias("price"),
                )

            run = lambda: ctx.run_df("queries.build", read_df, release=False)  # noqa: E731
            check = lambda got, i=i: oracle.mismatch(got, self.expected[i])  # noqa: E731
            rows = sum(a.num_rows for k, a in self.plan[:i] if isinstance(a, pa.Table))
        return Op(kind, rows, run, check)

    def sweep(self, rng: random.Random) -> list[Op]:
        self.sweeps += 1
        self.path = os.path.join(self.ctx.work, "lake", f"sweep{self.sweeps}")
        return [self._op(i, kind, arg) for i, (kind, arg) in enumerate(self.plan)]

    def end_sweep(self) -> None:
        if self.ctx.tracer.enabled and os.path.isdir(self.path):
            from daft_spark.io.delta import read_deltalake_py

            live = read_deltalake_py(self.path, self.ctx.spark).inputFiles()
            live_bytes = sum(os.path.getsize(f.removeprefix("file:")) for f in live)
            self.stats.append({
                "space_amp": stats.space_amp(_dir_bytes(self.path), live_bytes),
                "log_bytes": _dir_bytes(os.path.join(self.path, "_delta_log")),
                "files": len(live),
                "live_bytes_per_row": live_bytes / self.expected[-1].num_rows,
            })
        shutil.rmtree(self.path, ignore_errors=True)

    def rewrite_amp(self) -> float:
        """Bytes written by MERGE and DELETE per byte of rows they changed."""
        w = self._bytes_written
        if not self.stats or not w["changed_rows"]:
            return 0.0
        per_row = sum(s["live_bytes_per_row"] for s in self.stats) / len(self.stats)
        return w["written"] / (w["changed_rows"] * per_row)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (ServeSql, Tpch, Curation, LakeEtl)}
