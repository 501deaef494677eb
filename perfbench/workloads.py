"""The benchmark's workloads.

Each workload has a set-up step (repeated; ``setup_s`` is the session
start plus the median of the repeats), a list of ops run in
seed-shuffled passes by one closed-loop client, and an output check per
op that runs outside the timed window. An op is a call into one layer's
public function, timed up to and including the consumption of its
result.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

_MB = 1024 * 1024
_FILL_PREFIX = "In-memory table "
# DAG task states that count as a failed op.
_DAG_FAILED = ("FAILED", "UPSTREAM_FAILED")


def persistent_rdds(spark) -> set[int]:
    """The ids of every persisted or local-checkpointed RDD."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def rdd_name(spark, i: int) -> str:
    rdd = spark.sparkContext._jsc.getPersistentRDDs().get(i)
    return (rdd.name() or "") if rdd is not None else ""


def cached_tables(spark) -> dict[str, float]:
    """Cached tables with their in-memory and on-disk size in MB."""
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        r.name()[len(_FILL_PREFIX):]: (r.memSize() + r.diskSize()) / _MB
        for r in storage if (r.name() or "").startswith(_FILL_PREFIX)
    }


def unpersist_rdds(spark, ids) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(True)


def parquet_files(path: str) -> tuple[int, float]:
    """Parquet part files under ``path`` and their size in MB."""
    n, size = 0, 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size / _MB


def count_exchanges(plan: str) -> int:
    """Exchange nodes in a physical plan's text, counting only the final
    adaptive plan and skipping the plans of cached relations it scans."""
    lines = plan.splitlines()
    if any("== Final Plan ==" in ln for ln in lines):
        start = next(i for i, ln in enumerate(lines) if "== Final Plan ==" in ln)
        end = next(
            (i for i, ln in enumerate(lines) if "== Initial Plan ==" in ln), len(lines)
        )
        lines = lines[start + 1:end]
    n, skip_below = 0, None
    for ln in lines:
        indent = len(ln) - len(ln.lstrip(" :+-*()0123456789"))
        if skip_below is not None:
            if indent > skip_below:
                continue
            skip_below = None
        if "InMemoryRelation" in ln:
            skip_below = indent
        elif "Exchange" in ln:
            n += 1
    return n


class Oracle:
    """DuckDB answers for registry ops over the fixture inputs
    (``tests/oracle_harness.run_duckdb``), compared after the same
    normalisation as there.

    The inputs are fixed files, so each answer is kept on disk under a
    digest of its SQL text and of the inputs: only the first run in a
    checkout computes an answer, and it does so while checking outputs,
    outside the timed window."""

    def __init__(self, data_dir: str, sql: dict[str, str], cache_dir: str) -> None:
        from tests.oracle_harness import _norm_rows, run_duckdb

        self._norm, self._run = _norm_rows, run_duckdb
        self.data_dir, self.sql, self.cache_dir = data_dir, sql, cache_dir
        h = hashlib.sha256()
        for f in sorted(os.listdir(data_dir)):
            h.update(f.encode())
            with open(os.path.join(data_dir, f), "rb") as fh:
                h.update(fh.read())
        self.inputs = h.hexdigest()
        self._answers: dict[str, list] = {}

    def _normalised(self, cols, rows) -> list:
        c, r = self._norm(cols, rows)
        return [list(c), [list(x) for x in r]]

    def answer(self, name: str) -> list:
        if name not in self._answers:
            sql = self.sql[name]
            key = hashlib.sha256(f"{self.inputs}\n{sql}".encode()).hexdigest()
            path = os.path.join(self.cache_dir, f"{key}.json")
            if os.path.isfile(path):
                with open(path) as f:
                    self._answers[name] = json.load(f)
            else:
                ans = self._normalised(*self._run(sql, self.data_dir))
                os.makedirs(self.cache_dir, exist_ok=True)
                tmp = f"{path}.{os.getpid()}"
                with open(tmp, "w") as f:
                    json.dump(ans, f)
                os.replace(tmp, path)
                self._answers[name] = ans
        return self._answers[name]

    def matches(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        return self._normalised(cols, rows) == self.answer(name)


class Workload:
    """Base: ``setup_once`` builds the prerequisites once, ``ops`` names
    the ops of one pass, ``run_op`` times one op and ``check`` verifies
    its output."""

    name = ""
    OPS: tuple[str, ...] = ()
    # Set-up repeats per run; setup_s uses their median.
    setups = 2
    # Unmeasured warm-up passes, then measured passes (at the least).
    cold_passes = 0
    steady_passes = 1

    def __init__(self, spark, program, data_dir: str, work_dir: str, oracle: Oracle,
                 tracer, seed: int) -> None:
        self.spark, self.P = spark, program
        self.data_dir, self.work_dir = data_dir, work_dir
        self.oracle, self.tracer, self.seed = oracle, tracer, seed
        self.queries = program.entry.queries()
        self.layer: dict[str, float] = defaultdict(float)
        self.leaked = 0

    def ops(self) -> list[str]:
        return list(self.OPS)

    def traced_only(self) -> list[bool]:
        """Checked work that only a traced run does, after everything it
        measures end to end; timed only as per-layer metrics. Returns one
        check result per step."""
        return []


class StarQuery(Workload):
    """Analyst read path over the star schema. The set-up builds and
    caches the warehouse twice: first through the whole ETL pipeline
    (``run_warehouse_pipeline``: staging, quality gate, dims, facts, gold
    and manifest parquet zones, run by the DAG executor), then with
    ``materialize_warehouse``. The passes run the 10 goldens plus three
    star-side operator queries over the cached warehouse."""

    name = "star_query"
    layer_of_ops = "plans"
    # Two warehouse builds and one measured pass, with no cold pass: a
    # second pass does not fit the run budget (SIZING.md).
    OPS = tuple(f"g{i:02d}" for i in range(1, 11)) + (
        "op_q1_pricing_summary",
        "op_geohash_merge_rollup",
        "op_multijoin_revenue",
    )
    STAGING = ("staging_311", "staging_airbnb")
    WAREHOUSE = (
        "dim_date", "dim_311_agency", "dim_311_borough", "dim_311_location",
        "dim_311_complaint", "dim_airbnb_location", "dim_airbnb_property",
        "dim_airbnb_host", "fact_311_complaint", "fact_airbnb_listings",
    )
    TABLES = ("complaints_raw", "listings_raw") + STAGING + WAREHOUSE

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        full = {n[:3] if n.startswith("g") else n: n for n in self.queries}
        self.names = {op: full[op] for op in self.OPS}
        # A second spelling of the input path: the warehouse memo is
        # keyed by the path string, so alternating spellings makes every
        # build a cold one without touching the engine's private memo.
        self.alias = os.path.join(self.work_dir, "data_alias")
        os.symlink(self.data_dir, self.alias)
        self.exchanges: dict[str, int] = {}
        self.split: dict[str, list[float]] = defaultdict(list)

    def setup_once(self, k: int) -> tuple[float, bool]:
        """Repeat 0 refreshes the warehouse with the ETL pipeline over
        the alias spelling. Repeat 1 rebuilds it with
        ``materialize_warehouse`` over the spelling the queries use, so
        its cache serves them; it is checked by every warehouse table
        being cached and non-empty."""
        if k == 0:
            return self._refresh()
        with self.tracer.span("model.star.materialize_warehouse", "model.star", f"setup{k}"):
            t0 = time.perf_counter()
            self.P.star.materialize_warehouse(self.spark, self.data_dir)
            wall = time.perf_counter() - t0
        self.layer["model.star.build_s"] = wall
        sizes = cached_tables(self.spark)
        return wall, all(
            sizes.get(t, 0.0) > 0 and self.spark.catalog.isCached(t) for t in self.TABLES
        )

    def _counts(self, tables) -> dict[str, int]:
        with ThreadPoolExecutor(4) as pool:
            return dict(zip(tables, pool.map(lambda t: self.spark.table(t).count(), tables)))

    def _refresh(self) -> tuple[float, bool]:
        """One forced pipeline run into a fresh output directory. It
        passes when every DAG task ends SUCCESS, the rows written to each
        staging and warehouse zone equal that table's count, and every
        warehouse table is cached."""
        out = os.path.join(self.work_dir, "refresh")
        with self.tracer.span("pipelines.warehouse_pipeline.run_warehouse_pipeline",
                              "pipelines", "setup0"):
            t0 = time.perf_counter()
            results = self.P.warehouse.run_warehouse_pipeline(
                self.spark, self.alias, out, force=True
            )
            wall = time.perf_counter() - t0
        written = {t: results[t].value for t in self.STAGING + self.WAREHOUSE if t in results}
        files, mb = parquet_files(out)
        self.layer.update({
            "pipelines.warehouse_pipeline.run_s": wall,
            "pipelines.warehouse_pipeline.rows_written": sum(
                v for v in written.values() if isinstance(v, int)
            ),
            "sources.written_mb": mb,
            "sources.files_written": files,
            "orchestration.dag.tasks": len(results),
            "orchestration.dag.attempts": sum(r.attempts for r in results.values()),
            "orchestration.dag.failed_tasks": sum(
                r.state in _DAG_FAILED for r in results.values()
            ),
        })
        counts = self._counts(self.STAGING + self.WAREHOUSE)
        self.layer["model.star.rows"] = sum(counts.values())
        ok = all(r.state == "SUCCESS" for r in results.values()) and written == counts
        shutil.rmtree(out, ignore_errors=True)
        return wall, ok

    def run_op(self, op: str):
        """Build the query (parse + analysis), then execute and collect.
        When tracing, optimization and physical planning are forced and
        timed on their own between the two."""
        name = self.names[op]
        with self.tracer.span(f"plans.{op}", "plans", op) as sp:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.data_dir)
            t1 = t2 = time.perf_counter()
            if sp is not None:
                qe = df._jdf.queryExecution()
                qe.optimizedPlan()
                qe.executedPlan()
                t2 = time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
            t3 = time.perf_counter()
        if sp is not None:
            self.split["analyze"].append(t1 - t0)
            self.split["optimize"].append(t2 - t1)
            self.split["execute"].append(t3 - t2)
            plan = df._jdf.queryExecution().executedPlan().toString()
            self.exchanges[op] = count_exchanges(plan)
        return t3 - t0, (df.columns, rows)

    def check(self, op: str, out) -> bool:
        return self.oracle.matches(self.names[op], *out)

    def release_leaks(self, before: set[int]) -> None:
        """Persisted RDDs an op left behind, other than warehouse tables,
        are counted and released."""
        new = [
            i for i in persistent_rdds(self.spark) - before
            if not rdd_name(self.spark, i).startswith(_FILL_PREFIX)
        ]
        self.leaked += len(new)
        unpersist_rdds(self.spark, new)

    def finish(self) -> None:
        self.layer["model.star.cache_mb"] = sum(cached_tables(self.spark).values())
        if self.split:
            for k in ("analyze", "optimize", "execute"):
                self.layer[f"plans.{k}_s"] = statistics.median(self.split[k])
            self.layer["plans.exchanges"] = sum(self.exchanges.values())


class CorpusCuration(Workload):
    """Document family: oracle-gated registry ops and the two LSH dedup
    operators called directly, over the documents table. A traced run
    also builds a base corpus from nine tenths of the documents and
    ingests the held-out tenth into it incrementally."""

    name = "corpus_curation"
    layer_of_ops = "operators"
    # The first repeat is the first Spark job of the run; the median is
    # a warm load.
    setups = 3
    cold_passes = 1
    steady_passes = 2
    REGISTRY = (
        "dedup_exact_text",
        "dedup_ngram_jaccard",
        "sim_cosine_topk",
        "text_quality_classifier",
    )
    LSH = ("minhash_near_dup_pairs", "simhash_near_dup_pairs")
    OPS = REGISTRY + LSH
    JACCARD = 0.7
    # Least precision an LSH op may have against the exact pairs.
    MIN_PRECISION = 0.5

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.truth: set | None = None
        self.precision: dict[str, list[float]] = defaultdict(list)
        self.pairs: list[int] = []
        # The seed picks which tenth of the doc_ids (in sorted order) is
        # the ingest batch; the rest is the base corpus.
        import duckdb

        path = os.path.join(self.data_dir, "documents.parquet")
        ids = [r[0] for r in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{path}') ORDER BY doc_id"
        ).fetchall()]
        k = self.seed % 10
        lo, hi = ids[len(ids) * k // 10], ids[len(ids) * (k + 1) // 10 - 1]
        self.held_out = (lo, hi)

    def _documents(self):
        return self.P.catalog.load_table(self.spark, self.data_dir, "documents")

    def _slice(self, held_out: bool):
        from pyspark.sql import functions as F

        lo, hi = self.held_out
        inside = F.col("doc_id").between(lo, hi)
        return self._documents().filter(inside if held_out else ~inside).select(
            "doc_id", "text", "lang", "source"
        )

    def setup_once(self, k: int) -> tuple[float, bool]:
        """The documents table, loaded and scanned once."""
        t0 = time.perf_counter()
        n = self._documents().count()
        return time.perf_counter() - t0, n > 0

    def traced_only(self) -> list[bool]:
        """The ingest path, once: ``init_corpus`` and ``ingest_increment``
        of every document outside the held-out slice make the base
        corpus; a copy of it, made untimed, then takes the held-out slice
        as the ingest batch."""
        ing = self.P.ingest
        base = os.path.join(self.work_dir, "base")
        with self.tracer.span("pipelines.ingest_pipeline.base_corpus", "pipelines", "base"):
            t0 = time.perf_counter()
            ing.init_corpus(self.spark, base)
            r = ing.ingest_increment(self.spark, self._slice(False), base, "base")
            self.layer["pipelines.ingest_pipeline.base_s"] = time.perf_counter() - t0
        n_docs = ing.read_corpus(self.spark, base).count()
        base_ok = not r["skipped"] and 0 < r["n_kept"] <= r["n_in"] and n_docs == r["n_kept"]
        base_ok = base_ok and r["n_in"] == self._slice(False).count()
        corpus = os.path.join(self.work_dir, "ingest")
        shutil.copytree(base, corpus)
        with self.tracer.span("pipelines.ingest_pipeline.ingest_increment", "pipelines",
                              "ingest_batch"):
            t0 = time.perf_counter()
            r = ing.ingest_increment(
                self.spark, self._slice(True), corpus, f"held-out-{self.seed % 10}"
            )
            self.layer["pipelines.ingest_pipeline.batch_s"] = time.perf_counter() - t0
        batch_ok = self._check_ingest(r, base, n_docs, corpus)
        shutil.rmtree(base, ignore_errors=True)
        return [base_ok, batch_ok]

    def run_op(self, op: str):
        dedup = self.P.dedup
        with self.tracer.span(f"operators.{op}", "operators", op):
            t0 = time.perf_counter()
            if op in self.REGISTRY:
                df = self.queries[op](self.spark, self.data_dir)
            elif op == "minhash_near_dup_pairs":
                df = dedup.minhash_near_dup_pairs(
                    self._documents(), "doc_id", "text", shingle="word",
                    min_jaccard_est=self.JACCARD,
                )
            else:
                df = dedup.simhash_near_dup_pairs(self._documents(), "doc_id", "text")
            rows = [tuple(r) for r in df.collect()]
            wall = time.perf_counter() - t0
        return wall, (df.columns, rows)

    def check(self, op: str, out) -> bool:
        cols, rows = out
        if op in self.REGISTRY:
            return self.oracle.matches(op, cols, rows)
        # LSH candidates are approximate: no digest, only precision
        # against the exact word-3-gram Jaccard pairs.
        pairs = {tuple(sorted((r[0], r[1]))) for r in rows}
        if op == "minhash_near_dup_pairs":
            self.pairs.append(len(pairs))
        if not pairs:
            return False
        precision = len(pairs & self._truth()) / len(pairs)
        self.precision[op].append(precision)
        return precision >= self.MIN_PRECISION

    def _check_ingest(self, r: dict, base: str, base_docs: int, corpus: str) -> bool:
        """No more kept than offered, every held-out doc offered, and the
        corpus grew by exactly the kept docs."""
        n_docs = self.P.ingest.read_corpus(self.spark, corpus).count()
        ok = not r["skipped"] and r["n_kept"] <= r["n_in"]
        ok = ok and r["n_in"] == self._slice(True).count()
        ok = ok and n_docs == base_docs + r["n_kept"]
        self.layer["pipelines.ingest_pipeline.kept_ratio"] = (
            r["n_kept"] / r["n_in"] if r["n_in"] else 0.0
        )
        self.layer["pipelines.ingest_pipeline.appended_mb"] = (
            parquet_files(corpus)[1] - parquet_files(base)[1]
        )
        shutil.rmtree(corpus, ignore_errors=True)
        return ok

    def _truth(self) -> set:
        if self.truth is None:
            before = persistent_rdds(self.spark)
            df = self.P.dedup.ngram_jaccard_pairs(
                self._documents(), "doc_id", "text", n=3, min_jaccard=self.JACCARD
            )
            self.truth = {tuple(sorted((r["id_a"], r["id_b"]))) for r in df.collect()}
            self.release_leaks(before, count=False)
        return self.truth

    def release_leaks(self, before: set[int], count: bool = True) -> None:
        """Every cache entry and persisted or checkpointed RDD an op left
        behind is counted, then released, so repeats start cold."""
        new = persistent_rdds(self.spark) - before
        if count:
            self.leaked += len(new)
        unpersist_rdds(self.spark, new)  # blocking, unlike clearCache
        self.spark.catalog.clearCache()

    def finish(self) -> None:
        for op, key in zip(self.LSH, ("lsh_precision", "simhash_precision")):
            if self.precision[op]:
                self.layer[f"operators.dedup.{key}"] = statistics.median(self.precision[op])
        if self.pairs:
            self.layer["operators.dedup.pairs"] = statistics.median(self.pairs)


WORKLOADS = {w.name: w for w in (StarQuery, CorpusCuration)}
