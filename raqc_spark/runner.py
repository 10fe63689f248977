"""run_contract — lifecycle orchestration with checkpoint/resume.

Analogue of RAQC's eager CLI pipeline (SURVEY.md §3.1), but lazy and
resumable (BASELINE.json:14 "resumable from checkpoint with per-partition
lineage + metrics"):

- each check *family* (shared-scan group, plan.compile_plan) executes as one
  Spark job writing its violations to ``<run_dir>/violations/family=<id>/``,
  physically partitioned by ``partition_id`` and written with DYNAMIC
  partition overwrite — a retry replaces exactly the partitions it
  recomputed, never a sibling family's (or partition's) checkpointed output;
- after each unit of work completes, a manifest entry is appended
  **atomically** (write-tmp-then-rename, SURVEY.md §7.3.4) carrying
  per-partition lineage: n_rows, n_violations, metric and pass per
  (check, partition_id), plus a ``complete`` flag per family;
- the manifest also pins a **fingerprint** of (contract, input files); a
  resume against a run_dir checkpointed under a different contract or input
  refuses instead of silently reusing stale verdicts;
- re-running with the same run_dir skips completed families outright and,
  for a partially-completed splittable family, recomputes ONLY the missing
  partition_ids (the completed partitions' verdicts are reconstructed from
  the manifest — no recompute, no rescan);
- ``partition_batches > 1`` runs each splittable family as several partition
  batches with a manifest commit after each — bounded retry blast radius at
  10^12-file scale, and the unit a mid-family crash resumes from.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from raqc_spark.contract import Contract
from raqc_spark.plan import CompiledFamily, compile_plan, prepare
from raqc_spark.results import VERDICT_SCHEMA


def _safe(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", name)


#: RFC 3986 scheme followed by "://" — distinguishes real URIs (decode the
#: percent-encoding) from bare filesystem paths (never decode; ADVICE r4).
_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


@dataclass
class RunResult:
    verdicts: DataFrame
    run_dir: str
    families_run: list[str]
    families_skipped: list[str]
    # families that resumed mid-way: name -> partition_ids recomputed
    partitions_resumed: dict[str, list[int]]

    @property
    def passed(self) -> bool:
        return self.verdicts.filter("NOT pass").count() == 0


def _file_stamp(uri: str) -> str:
    """path + size + mtime: a parquet file rewritten IN PLACE at the same
    path (same name, new data) must change the fingerprint, or resume would
    silently reuse stale checkpointed verdicts (ADVICE r2)."""
    # inputFiles() returns percent-encoded URIs (space -> %20); decode the
    # path component before stat, else those files silently fall back to the
    # path-only stamp and in-place rewrites go undetected again (ADVICE r3).
    if uri.startswith("file:"):
        parsed = urlparse(uri)
        path = unquote(parsed.path)
    elif _URI_SCHEME.match(uri):
        # recognized URI (scheme://...): decode the percent-encoding Spark
        # applied; os.stat will usually fail for remote schemes and fall
        # back to the path-only stamp below, which is correct for them
        path = unquote(urlparse(uri).path)
    else:
        # bare filesystem path: leave untouched — a literal '%2b' in a
        # directory name is part of the name, not an encoding (ADVICE r4)
        path = uri
    try:
        st = os.stat(path)
        return f"{uri}#{st.st_size}#{st.st_mtime_ns}"
    except OSError:  # pragma: no cover - remote/object-store URI: path only
        return uri


def contract_fingerprint(
    contract: Contract,
    s2: DataFrame,
    s1: DataFrame | None,
    commits_dim: DataFrame | None,
) -> str:
    """Identity of (contract spec, input files + their sizes/mtimes).
    Frozen-dataclass repr is deterministic; inputFiles() is scan metadata
    (no job). In-memory test DataFrames list no files — their fingerprint
    covers the contract only. A source that cannot enumerate files at all
    gets a unique token: such runs are NOT resumable (there is no way to
    prove the checkpointed data is the same data)."""
    parts = [repr(contract)]
    for df in (s2, s1, commits_dim):
        if df is None:
            parts.append("-")
        else:
            try:
                parts.append(
                    ",".join(sorted(_file_stamp(u) for u in df.inputFiles()))
                )
            except Exception:  # pragma: no cover - non-file sources
                parts.append(f"?nonresumable:{uuid.uuid4()}")
    return hashlib.sha256("||".join(parts).encode()).hexdigest()


class Manifest:
    """Per-partition checkpoint manifest, atomically swapped per entry.
    Thread-safe: families complete concurrently (run_contract pool).

    Layout: ``{"meta": {...}, "families": {name: {"verdicts": [...],
    "complete": bool}}}``. Verdict rows merge by (check_name, partition_id)
    so batch commits accumulate; ``complete`` marks the family fully done.
    Legacy (round-1) entries without the flag are treated as complete.
    """

    def __init__(self, run_dir: str) -> None:
        self.path = os.path.join(run_dir, "manifest.json")
        self._lock = threading.Lock()

    def load(self) -> dict:
        if not os.path.exists(self.path):
            return {"meta": {}, "families": {}}
        with open(self.path) as f:
            data = json.load(f)
        data.setdefault("meta", {})
        return data

    def _swap(self, data: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, sort_keys=True)
        os.replace(tmp, self.path)

    def meta(self) -> dict:
        return self.load()["meta"]

    def set_meta(self, **kv) -> None:
        with self._lock:
            data = self.load()
            data["meta"].update(kv)
            self._swap(data)

    def record(
        self, family: str, verdict_rows: list[dict], complete: bool
    ) -> None:
        """Merge verdict rows into the family entry (keyed by
        (check_name, partition_id)) and set its complete flag."""
        with self._lock:
            data = self.load()
            entry = data["families"].setdefault(
                family, {"verdicts": [], "complete": False}
            )
            merged = {
                (r["check_name"], r["partition_id"]): r
                for r in entry.get("verdicts", [])
            }
            for r in verdict_rows:
                merged[(r["check_name"], r["partition_id"])] = r
            entry["verdicts"] = sorted(
                merged.values(), key=lambda r: (r["check_name"], r["partition_id"])
            )
            entry["complete"] = bool(complete)
            self._swap(data)

    def state(self) -> dict[str, tuple[list[dict], bool]]:
        """family -> (verdict rows so far, complete?)."""
        out = {}
        for k, v in self.load()["families"].items():
            out[k] = (v.get("verdicts", []), bool(v.get("complete", True)))
        return out

    def completed(self) -> dict[str, list[dict]]:
        """Fully-completed families only (round-1 API, kept for callers)."""
        return {k: rows for k, (rows, done) in self.state().items() if done}


def _write_violations(violations: DataFrame, out: str) -> None:
    """Partition-granular idempotent sink: dynamic overwrite replaces only
    the partition directories present in this write. Violations are
    repartitioned onto their sink partitioning first — one writer task per
    directory instead of every task writing every directory (at 10^12-file
    scale the latter is a small-files explosion AND a slow commit)."""
    (
        violations.repartition("partition_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("partition_id")
        .parquet(out)
    )


def _batches(pids: frozenset[int], n: int) -> list[frozenset[int]]:
    ordered = sorted(pids)
    n = max(1, min(n, len(ordered)))
    size = (len(ordered) + n - 1) // n
    return [
        frozenset(ordered[i : i + size]) for i in range(0, len(ordered), size)
    ]


def _run_family(
    fam: CompiledFamily,
    run_dir: str,
    manifest: Manifest,
    pids: frozenset[int] | None = None,
    partition_batches: int = 1,
    all_pids: frozenset[int] | None = None,
) -> list[dict]:
    """Run one family (optionally restricted to ``pids``), committing the
    manifest per partition batch. Returns the verdict rows it computed."""
    if fam.splittable and partition_batches > 1:
        target = pids if pids is not None else (all_pids or frozenset())
        chunks: list[frozenset[int] | None] = list(
            _batches(target, partition_batches)
        ) or [None]
    else:
        chunks = [pids]

    out = os.path.join(run_dir, "violations", f"family={_safe(fam.name)}")
    all_rows: list[dict] = []
    for i, chunk in enumerate(chunks):
        verdicts, violations = fam.build(chunk)
        # Write then collect, NOT overlapped: the family threads already keep
        # several actions in flight, and doubling each thread's actions
        # oversubscribes the scheduler.
        if violations is not None:
            _write_violations(violations, out)
        rows = [r.asDict() for r in verdicts.collect()]  # tiny: P × checks
        manifest.record(fam.name, rows, complete=(i == len(chunks) - 1))
        all_rows.extend(rows)
    return all_rows


def run_contract(
    spark: SparkSession,
    contract: Contract,
    s2: DataFrame,
    s1: DataFrame | None = None,
    commits_dim: DataFrame | None = None,
    run_dir: str = "/tmp/raqc_spark_run",
    resume: bool = True,
    cache: bool = True,
    granularity: str = "family",
    partition_batches: int = 1,
) -> RunResult:
    """Run the full contract; returns verdicts + writes violation sinks.

    ``cache=True`` persists the prepared snapshot across check families
    (right call in local/bench mode; on a 100 TB cluster rely on the
    shared-scan fusion instead and pass cache=False).

    ``granularity`` — ``"family"`` or ``"run"``; kept for existing callers.
    Both values run the one executor: one driver thread per check family,
    each writing its violations and collecting its verdicts once per
    partition batch, with a manifest commit after each. Any other value
    raises ``ValueError``.

    ``partition_batches`` — split each splittable family into this many
    partition_id batches, checkpointing the manifest after each: a crash
    loses at most one batch, and the resume recomputes only the partitions
    with no manifest entry.

    ``resume=False`` starts clean: prior manifest and violation sinks under
    ``run_dir`` are removed (a fresh run must not inherit stale partitions).
    """
    if granularity not in ("family", "run"):
        raise ValueError(
            f"granularity must be 'family' or 'run', got {granularity!r}"
        )
    os.makedirs(run_dir, exist_ok=True)
    manifest = Manifest(run_dir)
    fingerprint = contract_fingerprint(contract, s2, s1, commits_dim)
    if resume:
        prior = manifest.meta().get("fingerprint")
        if prior is not None and prior != fingerprint:
            raise ValueError(
                f"run_dir {run_dir!r} was checkpointed with a different "
                "contract or inputs; refusing to resume (pass resume=False "
                "for a fresh run, or use a new run_dir)"
            )
    else:
        if os.path.exists(manifest.path):
            os.remove(manifest.path)
        shutil.rmtree(os.path.join(run_dir, "violations"), ignore_errors=True)
    manifest.set_meta(fingerprint=fingerprint)
    state = manifest.state() if resume else {}

    all_pids = frozenset(range(contract.partition_spec.num_partitions))
    s2p = prepare(s2, contract)
    persist_pool: list[DataFrame] = []  # tiny persisted intermediates
    s1p = None
    if s1 is not None:
        s1p = prepare(s1, contract)
        drift_cols = sorted(
            {
                c.column
                for c in contract.checks
                if c.kind in ("drift_psi", "drift_ks") and c.column
            }
        )
        if cache and drift_cols:
            # drift is the ONLY consumer of s1: cache the pruned projection
            # (partition_id + drift columns, ~30 B/row) so PSI and KS share
            # ONE scan of the previous snapshot instead of re-decompressing
            # its content column per check
            s1p = s1p.select("partition_id", *drift_cols).persist()
            persist_pool.append(s1p)
    if cache:
        if partition_batches > 1:
            # Local (no-shuffle) sort by partition_id before caching: the
            # in-memory columnar batches become runs of a single pid, so each
            # partition-batch build's `partition_id IN (...)` filter prunes
            # ~(1 - 1/batches) of the cache via batch min/max stats instead
            # of rescanning the whole table per chunk, which would otherwise
            # dominate a batched run.
            s2p = s2p.sortWithinPartitions("partition_id")
        s2p = s2p.persist()

    families = compile_plan(
        spark, contract, s2p, s1p, commits_dim, raw_schema=s2.schema,
        pool=persist_pool
    )
    all_rows: list[dict] = []
    ran, skipped = [], []
    resumed_parts: dict[str, list[int]] = {}
    work: list[tuple[CompiledFamily, frozenset[int] | None]] = []
    for fam in families:
        rows_done, complete = state.get(fam.name, ([], False))
        if complete:
            all_rows.extend(rows_done)
            skipped.append(fam.name)
        elif rows_done and fam.splittable:
            done_pids = {int(r["partition_id"]) for r in rows_done}
            remaining = frozenset(all_pids - done_pids)
            all_rows.extend(rows_done)
            if remaining:
                resumed_parts[fam.name] = sorted(remaining)
                work.append((fam, remaining))
            else:
                manifest.record(fam.name, [], complete=True)
                skipped.append(fam.name)
        else:
            # untouched, or partial-but-unsplittable: (re)run fully
            work.append((fam, None))
    try:
        if cache and work:
            # Materialize the cache once before the family threads fan out:
            # concurrent actions over a cold cache do not fill it
            # cooperatively, so each would recompute the scan.
            s2p.count()
        # Families are independent DAGs -> submit them from concurrent
        # driver threads; Spark's scheduler interleaves their stages so
        # small stages don't serialize the whole contract (FAIR-ish use
        # of the cluster without touching scheduler pools).
        with ThreadPoolExecutor(max_workers=max(1, len(work))) as pool:
            futures = [
                pool.submit(
                    _run_family, fam, run_dir, manifest, pids,
                    partition_batches, all_pids,
                )
                for fam, pids in work
            ]
            for (fam, _), fut in zip(work, futures, strict=True):
                all_rows.extend(fut.result())
                ran.append(fam.name)
    finally:
        if cache:
            s2p.unpersist()
        for t in persist_pool:
            t.unpersist()

    verdicts = spark.createDataFrame(
        [tuple(r[f.name] for f in VERDICT_SCHEMA.fields) for r in all_rows],
        schema=VERDICT_SCHEMA,
    )
    return RunResult(verdicts, run_dir, ran, skipped, resumed_parts)
