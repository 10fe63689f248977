"""The benchmark's workloads, driven only through the engine's public API.

``ContractBatched`` calls ``runner.run_contract`` in the checkpointed
production mode; ``LeafSweep`` runs five headline registry queries. Each
exposes ``call()`` (one timed unit of work), ``check()`` (untimed
correctness of the last call) and ``verify()`` (untimed correctness work
left for after the timed calls); the last two return the problems found.
``decompose_contract`` is the traced run's layer-by-layer probe of the
contract.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import nullcontext

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import __spark_entry__ as registry
from raqc_spark.contract import default_contract
from raqc_spark.plan import compile_plan, prepare
from raqc_spark.runner import Manifest, run_contract

from inputs import dir_stats, load_meta
from spans import Tracer

# The swept leaves: five of the headline leaves (bench.py's HEADLINE) whose
# kernels live in raqc_spark.functions, at least one per module. Fixed here,
# so the benchmark does not move when bench.py's list does. The other 15
# headline leaves are left out to keep a run inside its time budget
# (perfbench/README.md).
LEAVES = (
    "simsearch_ivf simsearch_cosine_topk dedup_simhash_pairs text_quality "
    "media_bounds"
).split()
# the one table each swept leaf scans
LEAF_TABLES = {
    "simsearch_ivf": "embeddings",
    "simsearch_cosine_topk": "embeddings",
    "dedup_simhash_pairs": "documents",
    "text_quality": "documents",
    "media_bounds": "documents",
}
FUNCTION_MODULES = {
    "simsearch": ("simsearch_ivf", "simsearch_cosine_topk"),
    "dedup": ("dedup_simhash_pairs",),
    "text": ("text_quality",),
    "multimodal": ("media_bounds",),
}
# check family name prefix (before ':') -> short metric name
FAMILIES = ("stats", "uniqueness", "ref", "hist", "drift")
KEY_COLS = ["repo", "path", "commit", "content_sha"]
PARTITION_BATCHES = 4


def _digest_col(name: str, dtype: T.DataType):
    """Order-insensitive digest input for one output column: floating
    values are formatted to 10 significant digits, so a different summation
    order cannot flip the digest."""
    c = F.col(f"`{name}`")
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.9e", c)
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, (T.DoubleType, T.FloatType)
    ):
        return F.transform(c, lambda x: F.format_string("%.9e", x))
    if isinstance(dtype, (T.MapType, T.StructType)):
        return F.to_json(c)
    return c


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an attached row count and order-insensitive digest,
    computed by the action that materialises it (no extra job)."""
    h = F.xxhash64(*[_digest_col(f.name, f.dataType) for f in df.schema.fields])
    obs = Observation()
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("sum"),
        F.bit_xor(h).alias("xor"),
    ), obs


def write_noop(df: DataFrame) -> dict:
    """Materialise every column of ``df`` into the noop sink; returns the
    observed row count and digest."""
    dfo, obs = observed(df)
    dfo.write.format("noop").mode("overwrite").save()
    return obs.get


# ---------------------------------------------------------------- contract


class ContractBatched:
    """``run_contract(granularity="family", partition_batches=4)`` plus the
    verdict collect, over the seeded code-table fixture."""

    name = "contract-batched"
    calls = 1  # engine calls per timed unit
    verify_calls = 0

    def __init__(self, spark: SparkSession, in_dir: str, run_dir: str) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.meta = load_meta(in_dir)
        self.rows = self.meta["s2_rows"]
        self.s1 = spark.read.parquet(os.path.join(in_dir, "code_files_s1.parquet"))
        self.s2 = spark.read.parquet(os.path.join(in_dir, "code_files_s2.parquet"))
        self.commits = spark.read.parquet(os.path.join(in_dir, "commits.parquet"))
        with open(os.path.join(in_dir, "golden.json")) as f:
            self.golden = {k: {tuple(r) for r in v} for k, v in json.load(f).items()}
        self.reference: str | None = None
        self.last: list = []

    def call(self) -> None:
        result = run_contract(
            self.spark, default_contract(), self.s2, s1=self.s1,
            commits_dim=self.commits, run_dir=self.run_dir, resume=False,
            cache=True, granularity="family",
            partition_batches=PARTITION_BATCHES,
        )
        self.last = result.verdicts.collect()

    def verify(self) -> list[str]:
        return []  # check() already compared every call with the golden

    def check(self) -> list[str]:
        """The call's verdict rows and violation files against the golden.
        The verdict digest is compared across the calls of a run; at one
        call per run it is only recorded."""
        problems = []
        digest = hashlib.sha256(
            repr(sorted(tuple(r) for r in self.last)).encode()
        ).hexdigest()
        if self.reference is None:
            self.reference = digest
        elif digest != self.reference:
            problems.append("verdict digest differs from the first call")
        n_violations: dict[str, int] = {}
        for r in self.last:
            n_violations[r["check_name"]] = (
                n_violations.get(r["check_name"], 0) + r["n_violations"]
            )
        for check, want in self.meta["golden_rows"].items():
            if n_violations.get(check) != want:
                problems.append(
                    f"{check}: verdicts count {n_violations.get(check)} "
                    f"violation rows, golden has {want}"
                )
        got = violation_keys(os.path.join(self.run_dir, "violations"))
        for check, want in self.golden.items():
            if got.get(check, set()) != want:
                problems.append(
                    f"{check}: {len(got.get(check, ()))} violation keys, "
                    f"golden has {len(want)}"
                )
        return problems


def violation_keys(path: str) -> dict[str, set]:
    """check_name -> {(repo, path, commit, content_sha)} written under path."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["check_name", *KEY_COLS]
    )
    out: dict[str, set] = {}
    cols = [table.column(c).to_pylist() for c in ["check_name", *KEY_COLS]]
    for check, *key in zip(*cols):
        out.setdefault(check, set()).add(tuple(key))
    return out


def decompose_contract(wl: ContractBatched, tracer: Tracer) -> dict:
    """Plan and check-family probes on the contract inputs. Returns the
    exact violation row count per family; the timings are spans."""
    contract = default_contract()
    with tracer.span("plan.decode"):
        wl.s2.write.format("noop").mode("overwrite").save()
    with tracer.span("plan.fill"):
        s2p = prepare(wl.s2, contract).persist()
        s2p.count()
    drift_cols = sorted(
        {c.column for c in contract.checks
         if c.kind in ("drift_psi", "drift_ks") and c.column}
    )
    # the runner's cached s1 projection (drift is its only consumer)
    s1p = prepare(wl.s1, contract).select("partition_id", *drift_cols).persist()
    pool: list[DataFrame] = []
    with tracer.span("plan.compile"):
        families = compile_plan(
            wl.spark, contract, s2p, s1p, wl.commits, raw_schema=wl.s2.schema,
            pool=pool,
        )
    violation_rows = {}
    try:
        for fam in families:
            short = fam.name.split(":")[0]
            if short not in FAMILIES:
                continue
            with tracer.span(f"checks.{short}"):
                verdicts, violations = fam.build(None)
                verdicts.collect()
                n = write_noop(violations)["rows"] if violations is not None else 0
            violation_rows[short] = n
    finally:
        for df in (s2p, s1p, *pool):
            df.unpersist()
    return violation_rows


def runner_artifacts(wl: ContractBatched, scratch: str) -> dict:
    """Exact sizes of what the last call left in run_dir, and the time of
    one Manifest.record call with the run's verdict rows."""
    n_files, n_bytes = dir_stats(os.path.join(wl.run_dir, "violations"), ".parquet")
    manifest = os.path.join(wl.run_dir, "manifest.json")
    rows = [r.asDict() for r in wl.last]
    os.makedirs(scratch, exist_ok=True)
    m = Manifest(scratch)
    t0 = time.perf_counter()
    m.record("bench", rows, complete=True)
    record_s = time.perf_counter() - t0
    return {
        "violation_files": n_files,
        "violation_mb": n_bytes / (1024.0 * 1024.0),
        "manifest_kb": os.path.getsize(manifest) / 1024.0,
        "manifest_record_s": record_s,
    }


def expected_violation_rows(wl: ContractBatched) -> dict[str, int]:
    """Golden violation row counts per family, where a golden exists."""
    g = wl.meta["golden_rows"]
    return {
        "stats": g["null_rate_content"] + g["null_rate_lang"]
        + g["empty_content"] + g["bounds_content_length"],
        "uniqueness": g["uniqueness"],
        "ref": g["ref_integrity"],
    }


# -------------------------------------------------------------------- leaf


class LeafSweep:
    """One pass = the swept leaf queries, one at a time in LEAVES order, each
    output materialised in full into the noop sink. The order is fixed: the
    first leaf of a session absorbs the Python worker start-up, and a
    seeded order moved that cost between leaves (dedup_simhash_pairs read
    6.8-17.3 s on a 4-core host), which spread the pass time across seeds."""

    name = "leaf-sweep"
    calls = verify_calls = len(LEAVES)

    def __init__(self, spark: SparkSession, in_dir: str,
                 tracer: Tracer | None = None) -> None:
        self.spark = spark
        self.in_dir = in_dir
        self.queries = registry.queries()
        self.oracle = registry.oracle_sql()
        self.tracer = tracer
        self.reference: dict[str, dict] = {}
        self.last: dict[str, dict | Exception] = {}
        self.times: dict[str, float] = {}
        table_rows = load_meta(in_dir)["rows"]
        self.rows = sum(table_rows[LEAF_TABLES[q]] for q in LEAVES)  # per pass

    def verify(self) -> list[str]:
        """Untimed pass after the timed ones: collect each output, compare
        it with its DuckDB oracle twin where one exists, and require the
        digest the timed passes observed."""
        import duckdb
        from tests.test_oracle_parity import _rowset  # the parity test's normalisation

        con = duckdb.connect()
        for t in load_meta(self.in_dir)["rows"]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.in_dir, t)}.parquet'"
            )
        problems = []
        for name in LEAVES:
            try:
                df, obs = observed(self.queries[name](self.spark, self.in_dir))
                rows = df.collect()
            except Exception as e:  # noqa: BLE001 - counted, never dropped
                problems.append(f"{name}: collect raised {e!r:.200}")
                continue
            if name in self.reference and obs.get != self.reference[name]:
                problems.append(f"{name}: collected digest differs from the timed one")
            if name in self.oracle:
                res = con.execute(self.oracle[name])
                d_cols = [d[0] for d in res.description]
                if sorted(df.columns) != sorted(d_cols) or _rowset(
                    df.columns, rows
                )[0] != _rowset(d_cols, res.fetchall())[0]:
                    problems.append(f"{name}: differs from its DuckDB oracle")
        con.close()
        return problems

    def call(self) -> None:
        self.last, self.times = {}, {}
        for name in LEAVES:
            span = self.tracer.span(f"queries.{name}") if self.tracer else nullcontext()
            t0 = time.perf_counter()
            try:
                with span:
                    self.last[name] = write_noop(
                        self.queries[name](self.spark, self.in_dir)
                    )
            except Exception as e:  # noqa: BLE001 - counted, never dropped
                self.last[name] = e
            self.times[name] = time.perf_counter() - t0

    def check(self) -> list[str]:
        """Failed leaves, and digests that differ from the run's first pass.
        At one pass per run the digests are only recorded; verify() then
        compares them with the collected outputs."""
        problems = []
        for name in LEAVES:
            got = self.last.get(name)
            if isinstance(got, Exception):
                problems.append(f"{name}: raised {got!r:.200}")
            elif self.reference.setdefault(name, got) != got:
                problems.append(f"{name}: output digest differs from the first pass")
        return problems
