"""The benchmark's workloads, each a single-client closed loop in one
process.

- ``kg_query``: set-up builds the FactGrid-shaped KG store
  (``queries_sparql.factgrid_kg``) over a fresh source path; after an
  unmeasured warm pass, each op compiles one seeded SPARQL text
  (:mod:`perfbench.sparql_ops`) and runs it through a noop write.  The
  many-small-jobs regime: compile and scheduling floors dominate, and
  repeated texts hit the prepared-statement memo.
- ``corpus_dedup``: each op runs one registry query, round-robin: the
  heavy dedup/ER family plus the entity-resolution and publishing
  pipelines.  Executor CPU, shuffle and eager driver-side work; no
  SPARQL.

Every run checks each distinct op's output once, outside the timed
phase, against DuckDB (a SQL twin per SPARQL text, ``spec.oracle`` for
registry queries).  A mismatch or an exception fails the op.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from . import datagen, sparql_ops
from .spans import Tracer, self_times
from .stats import percentile, tail_percentile

# sf0.1 is the engine's bench scale.  corpus_dedup runs smaller because
# er_lsh_pairs_sparse returns ~n^2/64 pairs (about 3M rows at sf0.1),
# whose per-run DuckDB check would outlast the whole run budget.
KG_SF = 0.1
CORPUS_SF = 0.01
SETUP_REPS = 3
KG_TABLES = ("customer", "supplier", "nation", "region")
# three rounds of the six templates, six of the eighteen ops repeats
KG_CYCLE = 3 * len(sparql_ops.TEMPLATES)
# rounds of the op sequence run unmeasured after the warm texts
KG_WARM_ROUNDS = 1
# registry query -> the engine layer its span is named after
CORPUS_OPS = {
    "dedup_minhash_pairs": "operators.dedup",
    "dedup_jaccard_pairs": "operators.dedup",
    "dedup_near_cluster_keep": "operators.dedup",
    "er_lsh_pairs_sparse": "operators.dedup",
    "corpus_curation": "operators.dedup",
    "text_quality": "operators.dedup",
    "er_resolve_entities": "operators.er",
    "publish_persons_pipeline": "queries_linking",
}
DEDUP_QUERIES = tuple(q for q, layer in CORPUS_OPS.items()
                      if layer == "operators.dedup")
CORPUS_TABLES = ("documents", "part", "supplier", "customer", "orders")
MAX_KG_OPS = 5000
CHECK_THREADS = 3

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "bytes_stored_per_source_byte": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sparql.compile_s": "s",
    "sparql.compile_share": "share",
    "sparql.repeat_share": "share",
    "r2rml.materialize_s": "s",
    "r2rml.store_bytes": "bytes",
    "er.resolve_s": "s",
    "linking.publish_s": "s",
    "dedup.build_s": "s",
    "dedup.build_share": "share",
    **{f"dedup.{q}.wall_s": "s" for q in DEDUP_QUERIES},
    "spark.exec_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "failed_op_share": "share",
    "trace.overhead_ops_per_s": "1/s",
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def source_bytes(source: str, tables) -> int:
    return sum(os.path.getsize(os.path.join(source, f"{t}.parquet"))
               for t in tables)


def check_all(con, items: dict[str, tuple]) -> dict[str, bool]:
    """Check each ``label: (frame factory, DuckDB SQL)`` pair: row
    count, column names and order-insensitive values (the oracle gate's
    ``normalize``).  An exception counts as a mismatch.

    The Spark frames are collected on a few threads at once while DuckDB
    answers the SQL on this one.  Checks run outside the measured phase;
    in ``corpus_dedup`` they run first and double as the warm pass:
    overlapping them overlaps the JVM's one-time code generation and
    compilation, which dominates a fresh process."""
    from tools.check_oracle import normalize

    def collect(df_fn):
        df = df_fn()
        return df.columns, [tuple(r) for r in df.collect()]

    out = {}
    with ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
        futures = {label: pool.submit(collect, fn)
                   for label, (fn, _) in items.items()}
        expected = {}
        for label, (_, sql) in items.items():
            try:
                res = con.sql(sql)
                expected[label] = ([d[0] for d in res.description],
                                   res.fetchall())
            except Exception:  # noqa: BLE001 - a failed check fails its ops
                traceback.print_exc(file=sys.stderr)
        for label, fut in futures.items():
            try:
                cols, rows = fut.result()
                dcols, drows = expected[label]
                out[label] = (len(rows) == len(drows)
                              and sorted(cols) == sorted(dcols)
                              and normalize(rows, cols)
                              == normalize(drows, dcols))
            except Exception:  # noqa: BLE001 - a failed check fails its ops
                traceback.print_exc(file=sys.stderr)
                out[label] = False
    return out


@dataclass
class Run:
    """State and results of one benchmark run."""

    work: str
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None
    session_s: float = 0.0
    setup_reps: list[float] = field(default_factory=list)
    # bytes of each store the run wrote
    stored: list[int] = field(default_factory=list)
    source_bytes: int = 0
    op_times: list[float] = field(default_factory=list)
    op_labels: list[str] = field(default_factory=list)
    op_failed: list[bool] = field(default_factory=list)
    measure_s: float = 0.0
    # tracer bookkeeping seconds inside the measured phase
    tag_s: float = 0.0
    counts: dict = field(default_factory=dict)
    # output check per distinct op label
    checks: dict = field(default_factory=dict)
    copies: int = 0
    # whether ``stored`` holds R2RML KG store bytes
    kg_store: bool = False
    # share of measured ops that rerun an earlier SPARQL text
    repeat_share: float = 0.0
    # wall seconds of each phase of the run, for the run record
    phases: dict = field(default_factory=dict)

    @property
    def source(self) -> str:
        return os.path.join(self.work, "source")

    @property
    def scratch(self) -> str:
        return os.environ["SPARK_GRAFT_SCRATCH_ROOT"]

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = (self.phases.get(name, 0.0)
                                 + time.perf_counter() - t0)

    def generate(self, sf: float) -> None:
        datagen.write(self.source, self.seed, sf)

    def start_session(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("session"):
            from remove_na_lgbtiq_queer_knowledge_graph_spark.session import (
                get_spark,
            )

            self.spark = get_spark("perfbench")
            self.spark.range(1).count()
        self.session_s = time.perf_counter() - t0

    def fresh_copy(self) -> str:
        """A new path holding the same source files, so every
        path-keyed session memo misses."""
        self.copies += 1
        d = os.path.join(self.work, "copies", f"c{self.copies}")
        shutil.copytree(self.source, d)
        return d

    def duckdb(self):
        import duckdb

        # one DuckDB thread: its answers are computed while Spark works
        con = duckdb.connect(config={"threads": 1})
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.source, t)}.parquet'")
        return con

    def load_sources(self, d: str, tables) -> None:
        from remove_na_lgbtiq_queer_knowledge_graph_spark.spec import t

        with self.tracer.span("sources"):
            for name in tables:
                t(self.spark, d, name)

    def setup_rep(self, body) -> None:
        """Time one set-up repetition."""
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            body()
        self.setup_reps.append(time.perf_counter() - t0)

    def noop(self, df) -> None:
        with self.tracer.span("spark"):
            df.write.format("noop").mode("overwrite").save()

    def measure(self, op_fn, label_fn, cycle: int, round_len: int) -> None:
        """Closed loop: op ``i`` starts when op ``i-1`` has completed.
        At least one whole cycle of ``cycle`` ops runs, then whole rounds
        of ``round_len`` ops until ``seconds`` have passed, so every run
        measures the same op mix.  An op that raises is recorded as
        failed and the loop goes on."""
        sc = self.spark.sparkContext
        t_start = time.perf_counter()
        i = 0
        while (i < cycle or i % round_len
               or time.perf_counter() - t_start < self.seconds):
            self.tracer.op = i
            self.tracer.tag_jobs(sc, f"perfbench-op-{i}")
            t0 = time.perf_counter()
            failed = False
            try:
                with self.tracer.span("op"):
                    op_fn(i)
            except Exception:  # noqa: BLE001 - one failed op must not end the run
                traceback.print_exc(file=sys.stderr)
                failed = True
            self.op_times.append(time.perf_counter() - t0)
            self.op_labels.append(label_fn(i))
            self.op_failed.append(failed)
            i += 1
        self.measure_s = time.perf_counter() - t_start
        self.phases["measure"] = self.measure_s
        self.tag_s = self.tracer.overhead_s
        self.tracer.op = None
        if self.tracer.enabled:
            # counts over the first cycle only: the same ops for a seed
            # on every run, however many rounds the host's speed allowed
            self.counts = self.tracer.job_counts(
                sc, [f"perfbench-op-{k}" for k in range(cycle)])
            self.counts["ops"] = cycle
            self.counts["failed_tasks"] = self.tracer.job_counts(
                sc, [f"perfbench-op-{k}" for k in range(i)])["failed_tasks"]

    def fail_unchecked_ops(self) -> None:
        """Fail every measured op whose output check failed."""
        for k, label in enumerate(self.op_labels):
            if not self.checks.get(label, False):
                self.op_failed[k] = True

    # -- results ---------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        n = len(self.op_times)
        return {
            "setup_s": self.session_s + statistics.median(self.setup_reps),
            "op_p50_s": percentile(self.op_times, 50.0),
            "op_tail_s": percentile(self.op_times, tail_percentile(n)),
            "ops_per_s": n / self.measure_s,
            "bytes_stored_per_source_byte":
                statistics.median(self.stored) / self.source_bytes,
        }

    def per_layer(self) -> dict[str, float]:
        spans = self.tracer.spans
        selfs = self_times(spans)
        n = len(self.op_times)

        def op_self(name: str) -> float:
            return sum(t for s, t in zip(spans, selfs)
                       if s.name == name and s.op is not None)

        def setup_self(name: str) -> float:
            """Median over set-up repetitions of the layer's self time."""
            reps = [s for s in spans if s.name == "setup"]
            return statistics.median(
                sum((t for s, t in zip(spans, selfs)
                     if s.name == name and r.start <= s.start <= r.end), 0.0)
                for r in reps) if reps else 0.0

        def wall(query: str) -> float:
            walls = [t for t, lab in zip(self.op_times, self.op_labels)
                     if lab == query]
            return statistics.median(walls) if walls else 0.0

        dedup_ops = [t for t, lab in zip(self.op_times, self.op_labels)
                     if lab in DEDUP_QUERIES]
        dedup_s = op_self("operators.dedup")
        compile_s = op_self("plans.sparql")
        c = self.counts
        out = {
            "session.start_s": self.session_s,
            "sources.load_s": setup_self("sources"),
            "sparql.compile_s": compile_s / n,
            "sparql.compile_share": compile_s / sum(self.op_times),
            "sparql.repeat_share": self.repeat_share,
            "r2rml.materialize_s": setup_self("plans.r2rml"),
            "r2rml.store_bytes":
                float(statistics.median(self.stored)) if self.kg_store else 0.0,
            "er.resolve_s": wall("er_resolve_entities"),
            "linking.publish_s": wall("publish_persons_pipeline"),
            "dedup.build_s": dedup_s / len(dedup_ops) if dedup_ops else 0.0,
            "dedup.build_share": dedup_s / sum(dedup_ops) if dedup_ops else 0.0,
            **{f"dedup.{q}.wall_s": wall(q) for q in DEDUP_QUERIES},
            "spark.exec_s": op_self("spark") / n,
            "spark.jobs_per_op": c["jobs"] / c["ops"],
            "spark.stages_per_op": c["stages"] / c["ops"],
            "spark.tasks_per_op": c["tasks"] / c["ops"],
            "spark.failed_tasks": float(c["failed_tasks"]),
            "failed_op_share": sum(self.op_failed) / n,
        }
        # traced ops/s minus the ops/s the same ops would reach without
        # the tracer's own bookkeeping (job-group tags during the ops)
        untraced_s = self.measure_s - self.tag_s
        out["trace.overhead_ops_per_s"] = n / self.measure_s - n / untraced_s
        return out


# -- kg_query ------------------------------------------------------------

def kg_query(run: Run) -> None:
    from remove_na_lgbtiq_queer_knowledge_graph_spark.plans.sparql import (
        compile_sparql,
    )
    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_sparql import (
        factgrid_kg,
    )

    with run.phase("generate"):
        run.generate(KG_SF)
    run.source_bytes = source_bytes(run.source, KG_TABLES)
    run.kg_store = True
    n_customers = datagen.rows("customer", KG_SF)
    with run.phase("session"):
        run.start_session()
    tr = run.tracer
    stores = []

    def build_store() -> None:
        d = run.fresh_copy()
        run.load_sources(d, KG_TABLES)
        with tr.span("plans.r2rml"):
            stores.append(factgrid_kg(run.spark, d))

    with run.phase("setup"):
        for _ in range(SETUP_REPS):
            before = dir_bytes(run.scratch)
            run.setup_rep(build_store)
            run.stored.append(dir_bytes(run.scratch) - before)
    kg = stores[-1]
    con = run.duckdb()

    def text_checks(ops) -> dict[str, tuple]:
        return {op.label(): ((lambda rq=op.texts()[0]: compile_sparql(rq, kg)),
                             op.texts()[1]) for op in ops}

    warm = sparql_ops.warm_ops(run.seed, n_customers)
    seq = warm + sparql_ops.op_sequence(run.seed, MAX_KG_OPS, n_customers)

    def op_fn(i: int) -> None:
        with tr.span("plans.sparql"):
            df = compile_sparql(seq[i].texts()[0], kg)
        run.noop(df)

    # unmeasured warm pass: the warm texts (one per template; the first
    # repeat ops reuse them) on a few threads, then the first round of
    # the op sequence in the closed loop.  The first noop writes of each
    # plan shape and most of the JIT's compilation of the op path happen
    # here, not in the measured ops (unwarmed, the first measured round
    # ran 20-40% slower than the later ones)
    n_warm = len(warm) + KG_WARM_ROUNDS * len(sparql_ops.TEMPLATES)
    with run.phase("warm"):
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            list(pool.map(op_fn, range(len(warm))))
        for i in range(len(warm), n_warm):
            op_fn(i)

    ran = seq[n_warm:]
    run.measure(lambda i: op_fn(n_warm + i), lambda i: ran[i].label(),
                KG_CYCLE, len(sparql_ops.TEMPLATES))

    # check each distinct measured text once, outside the measured phase;
    # the memo returns the very frame the measured ops ran
    ran = ran[:len(run.op_times)]
    with run.phase("check"):
        run.checks.update(check_all(con, text_checks(
            {op.label(): op for op in ran}.values())))
    run.fail_unchecked_ops()
    run.repeat_share = sum(op.repeat for op in ran) / len(ran)


# -- corpus_dedup --------------------------------------------------------

def corpus_dedup(run: Run) -> None:
    from remove_na_lgbtiq_queer_knowledge_graph_spark.registry import (
        all_specs,
    )

    specs = all_specs()
    with run.phase("generate"):
        run.generate(CORPUS_SF)
    run.source_bytes = source_bytes(run.source, ("documents",))
    with run.phase("session"):
        run.start_session()
    tr = run.tracer

    # the check pass doubles as the warm pass over the op mix
    d = run.fresh_copy()
    with run.phase("check"):
        run.checks.update(check_all(run.duckdb(), {
            name: ((lambda name=name: specs[name].fn(run.spark, d)),
                   specs[name].oracle)
            for name in CORPUS_OPS}))
    # the curated corpus this pipeline publishes, stored as parquet
    curated = os.path.join(run.scratch, "curated")
    with run.phase("store"):
        specs["corpus_curation"].fn(run.spark, d).write.parquet(curated)
    run.stored.append(dir_bytes(curated))

    # set-up: load the sources from a fresh path; the measured ops query
    # the last copy (sources loaded, every other path-keyed memo empty)
    with run.phase("setup"):
        for _ in range(SETUP_REPS):
            d = run.fresh_copy()
            run.setup_rep(lambda: run.load_sources(d, CORPUS_TABLES))

    names = list(CORPUS_OPS)

    def op_fn(i: int) -> None:
        name = names[i % len(names)]
        with tr.span(CORPUS_OPS[name]):
            df = specs[name].fn(run.spark, d)
        run.noop(df)

    run.measure(op_fn, lambda i: names[i % len(names)], len(names),
                len(names))
    run.fail_unchecked_ops()


WORKLOADS = {"kg_query": kg_query, "corpus_dedup": corpus_dedup}
