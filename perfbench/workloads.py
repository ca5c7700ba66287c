"""The benchmark workloads: the timed request, its output check, and the
traced pass that splits it into per-layer numbers.

Every workload calls the library through its public functions with the
arguments the pipeline itself uses. A workload object is built per run
from that run's generated inputs: ``prepare`` computes the oracle values
once (outside every timed region), ``run`` is the timed request, ``check``
compares its output against the oracle, and ``traced`` measures the layers.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional

import duckdb

import inputs as gen
# the order-insensitive row key of the repository's contract check
from tools.check_contract import norm_rows

# how often each traced prefix runs, interleaved; the median is reported.
# The prefixes up to the candidates take seconds each and run once; the
# label and triple prefixes, well under a second, run twice.
PREFIX_REPEATS = 1
DOWNSTREAM_REPEATS = 2

# layer -> its metrics and units. Layers a workload does not run report 0.
LAYERS = {
    "corpus": {"corpus.scan_s": "s", "corpus.render_ms_per_doc": "ms"},
    "parse": {"parse.ms_per_doc": "ms", "parse.sentences_per_doc": "1/doc",
              "parse.errors": "count"},
    "mentions_op": {"mentions_op.ms_per_doc": "ms",
                    "mentions_op.mentions_per_doc": "1/doc"},
    "candidates_fused": {
        "candidates_fused.stage_s": "s", "candidates_fused.product_s": "s",
        "candidates_fused.pairs_tested": "count",
        "candidates_fused.yield": "ratio",
        "candidates_fused.overflow_docs": "count",
        "candidates_fused.arrow_ms_per_doc": "ms"},
    "candidates_op": {"candidates_op.join_s": "s",
                      "candidates_op.shuffle_mb": "MB"},
    "labeling": {"labeling.s": "s"},
    "triples": {"triples.s": "s", "triples.rows": "count"},
    "featurize": {"featurize.s": "s", "featurize.keys_per_candidate": "ratio"},
    "linking": {"linking.s": "s", "linking.entities": "count"},
    "checkpoints": {"checkpoints.commit_s": "s",
                    "checkpoints.bytes_written_mb": "MB",
                    "checkpoints.resume_s": "s"},
    "functions": {},   # filled from NEAR_DUP_OPS below
    "session": {
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.gc_s": "s", "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
        "spark.tasks": "count", "spark.max_task_s": "s",
        "session.persisted_rdds_after": "count"},
    "bench": {"peak_rss_mb": "MB",
              "trace.overhead_s": "s", "trace.overhead_pct": "%",
              "bench.error_rate": "ratio", "machine.obtained_cores": "cores",
              "machine.steal_frac": "ratio"},
}
# near_dup: entry query -> the operator it calls
NEAR_DUP_OPS = {
    "dedup_minhash_pairs": "dedup.minhash_lsh_pairs",
    "dedup_lsh_verified": "dedup.lsh_verified_pairs",
    "dedup_embcos": "dedup.embedding_near_dup_pairs_lsh",
    "sim_knn_graph": "similarity.knn_graph",
}
for _op in NEAR_DUP_OPS.values():
    LAYERS["functions"][f"{_op}_s"] = "s"
    LAYERS["functions"][f"{_op}.persisted_rdds_after"] = "count"
LAYERS["functions"].update({"dedup.lsh_candidate_pairs": "count",
                            "dedup.verify_yield": "ratio"})
LAYER_UNITS = {m: u for ms in LAYERS.values() for m, u in ms.items()}
# workload -> the layers only it runs. The traced pass of kg_build runs
# each of these workloads once on small inputs of its own, so those layers
# are measured, and their outputs checked, on a workload the benchmark
# driver runs. kg_skew's traced pass, the longer one, would then come too
# near its 180 s limit.
SIDE_LAYERS = {"kg_checkpointed": ("featurize", "linking", "checkpoints"),
               "near_dup": ("functions",)}


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release_caches(spark) -> None:
    """Between runs: drop cached plans (CacheManager plan matching would
    otherwise skip the next run's work) and unpersist RDD-level caches."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Spans kept in memory, recorded by the benchmark around library
    calls. Each span's Spark jobs carry the span name as their job group,
    so the REST stage metrics can be split per span."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: List[dict] = []

    @contextmanager
    def span(self, name: str, parent: Optional[str] = None):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setJobGroup("untraced", "untraced")
            self.spans.append({"name": name, "parent": parent,
                               "start": t0, "end": t1, "s": t1 - t0})

    def seconds(self, name: str) -> float:
        return next(s["s"] for s in self.spans if s["name"] == name)

    def repeats(self, name: str) -> List[str]:
        """The spans ``name#0``, ``name#1``, ..."""
        return [s["name"] for s in self.spans
                if s["name"].rsplit("#", 1)[0] == name]


def replay(docs, render: Callable, structural: bool) -> dict:
    """Driver-side replay of the fused Python stage, one document at a time
    and with a span per call: corpus.render_page -> parse.parse_document ->
    mentions_op.iter_sentence_mentions -> the candidate product of
    candidates_fused (skipped, as in the stage, for documents over the
    mention cap). Returns per-layer metrics over all of ``docs``."""
    import inspect

    from fonduer_spark import candidates_fused as cf
    from fonduer_spark.corpus import url_of
    from fonduer_spark.mentions_op import (_fast_unigram_regex,
                                           iter_sentence_mentions)
    from fonduer_spark.parse import ParseConfig, parse_document
    from fonduer_spark.pipeline import default_mention_specs

    cap = inspect.signature(cf.extract_candidates_fused).parameters[
        "max_mentions_per_doc"].default
    cfg = ParseConfig(structural=structural)
    lp = cfg.make_lingual_parser()
    specs = default_mention_specs()
    fast = [_fast_unigram_regex(s) for s in specs]
    t = {"render": 0.0, "parse": 0.0, "mention": 0.0, "product": 0.0}
    n_sent = n_ment = errors = pairs = cands = over = 0
    for i, text in docs:
        t0 = time.perf_counter()
        html = render(i, text)
        t1 = time.perf_counter()
        try:
            rows = parse_document(url_of(int(i)), html, cfg, lp,
                                  emit_types={"sentence"})
        except Exception:  # the stage drops such a document; count it here
            errors += 1
            rows = []
        t2 = time.perf_counter()
        by_type: Dict[str, list] = {}
        for row in rows:
            for m in iter_sentence_mentions(row, specs, fast):
                by_type.setdefault(m["mention_type"], []).append(m)
        t3 = time.perf_counter()
        n = sum(len(v) for v in by_type.values())
        out: list = []
        if n > cap:
            over += 1
        else:
            cf._doc_candidates(by_type, "part_temp", "part", "temp",
                               cf.same_row_py, False, False, True, 0, out,
                               slim=True)
            pairs += len(by_type.get("part", ())) * len(by_type.get("temp", ()))
        t4 = time.perf_counter()
        n_sent += len(rows)
        n_ment += n
        cands += len(out)
        for k, dt in zip(t, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
            t[k] += dt
    nd = max(1, len(docs))
    return {
        "corpus.render_ms_per_doc": 1e3 * t["render"] / nd,
        "parse.ms_per_doc": 1e3 * t["parse"] / nd,
        "parse.sentences_per_doc": n_sent / nd,
        "parse.errors": errors,
        "mentions_op.ms_per_doc": 1e3 * t["mention"] / nd,
        "mentions_op.mentions_per_doc": n_ment / nd,
        "candidates_fused.product_s": t["product"],
        "candidates_fused.pairs_tested": pairs,
        "candidates_fused.yield": cands / max(1, pairs),
        "candidates_fused.overflow_docs": over,
    }


def side_layers(spark, tracer: Tracer, inp: gen.WorkloadInput) -> tuple:
    """The SIDE_LAYERS metrics, and the checks that failed, from one traced
    pass of each side workload on seeded inputs generated for it."""
    metrics, errors = {}, []
    for name, layers in SIDE_LAYERS.items():
        sub = gen.generate(name, os.path.join(inp.work, f"side-{name}"),
                           inp.work, inp.seed, inp.sizes)
        wl = WORKLOADS[name](sub)
        wl.prepare(spark)
        got, errs = wl.traced(spark, tracer, layers)
        metrics.update((m, got[m]) for layer in layers for m in LAYERS[layer])
        errors += [f"{name}: {e}" for e in errs]
    return metrics, errors


def _duck(d: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    return con


def _render_page(i, text):
    from fonduer_spark.corpus import render_page

    return render_page(int(i), text)


class Workload:
    name = ""
    layers: tuple = ()

    def __init__(self, inp: gen.WorkloadInput) -> None:
        self.inp = inp
        self.dir = inp.dir

    def prepare(self, spark) -> None:
        """Compute the oracle values ``check`` compares against."""

    def run(self, spark):
        raise NotImplementedError

    def check(self, spark, out) -> Optional[str]:
        """None when ``out`` is correct, else what is wrong."""
        raise NotImplementedError

    def finish(self, spark, out) -> None:
        """Release what ``run`` left behind (outside the timed region)."""

    def traced(self, spark, tracer: Tracer, layers=None) -> tuple:
        """Per-layer metrics, and the list of checks that failed. ``layers``
        may narrow the pass to some of ``self.layers``."""
        raise NotImplementedError

    def _docs_list(self) -> list:
        import pyarrow.parquet as pq

        t = pq.read_table(f"{self.dir}/documents.parquet",
                          columns=["doc_id", "text"]).to_pydict()
        return list(zip(t["doc_id"], t["text"]))

    def _gold_triples(self) -> list:
        from fonduer_spark.corpus import gold_triples_sql

        with _duck(self.dir, ["documents"]) as con:
            return sorted(tuple(r) for r in con.sql(gold_triples_sql()).fetchall())


class KgScored(Workload):
    """kg_build and kg_skew: the scored path of kg_stages, i.e.
    extract_candidates_auto (slim, ParseConfig(structural=False), eager
    overflow probe) -> with_marginals -> materialize_triples."""

    layers = ("corpus", "parse", "mentions_op", "candidates_fused",
              "candidates_op", "labeling", "triples", "session", "bench")

    def render(self):
        return None

    # candidates with prob >= 0.5 are the (part, max temp) pair of every
    # body row (corpus.n_tables / n_rows), times a hot doc's repeat factor;
    # triples.n_provenance counts them
    POSITIVES_SQL = """
WITH tabs AS (
  SELECT doc_id AS i, unnest(range(0, 1 + (doc_id % 2)
         + CASE WHEN doc_id % 50 = 0 THEN 6 ELSE 0 END)) AS t
  FROM documents)
SELECT sum((3 + ((i + t) % 3)) * coalesce(h.repeat, 1))
FROM tabs LEFT JOIN hot_docs h ON h.doc_id = tabs.i
"""

    def prepare(self, spark) -> None:
        self.gold = self._gold_triples()
        with _duck(self.dir, ["documents", "hot_docs"]) as con:
            self.positives = int(con.sql(self.POSITIVES_SQL).fetchone()[0])

    def check(self, spark, out) -> Optional[str]:
        got = sorted(tuple(r)[:3] for r in out)
        if got != self.gold:
            return f"triples differ from gold ({len(got)} vs {len(self.gold)})"
        n = sum(r["n_provenance"] for r in out)
        if n != self.positives:
            return f"{n} positive candidates, expected {self.positives}"
        return None

    def _auto(self, spark):
        """The candidate stage of the scored path, as kg_stages builds it."""
        from fonduer_spark.candidates_fused import (extract_candidates_auto,
                                                    same_row_py)
        from fonduer_spark.candidates_op import same_row
        from fonduer_spark.corpus import load_docs
        from fonduer_spark.parse import ParseConfig
        from fonduer_spark.pipeline import default_mention_specs

        return extract_candidates_auto(
            load_docs(spark, self.dir), default_mention_specs(), "part_temp",
            "part", "temp", py_throttler=same_row_py,
            column_throttler=same_row, slim=True,
            parse_cfg=ParseConfig(structural=False), probe="eager",
            render=self.render())

    def _prefixes(self, spark) -> Dict[str, Callable[[], object]]:
        """Stage prefixes of the path up to the candidates, in pipeline
        order; each function returns the frame a span materializes to the
        noop sink. A layer's self time is the difference between
        consecutive prefixes."""
        from fonduer_spark.candidates_fused import (extract_candidates_fused,
                                                    same_row_py)
        from fonduer_spark.corpus import load_docs
        from fonduer_spark.parse import ParseConfig
        from fonduer_spark.pipeline import default_mention_specs

        cfg = ParseConfig(structural=False)
        specs = default_mention_specs()

        def docs():
            return load_docs(spark, self.dir)

        return {
            "corpus.load_docs": docs,
            **self._parse_prefixes(spark, docs, specs, cfg),
            "candidates_fused.extract_candidates_fused":
                lambda: extract_candidates_fused(
                    docs(), specs, "part_temp", "part", "temp",
                    throttler=same_row_py, slim=True, parse_cfg=cfg,
                    render=self.render()),
            # persisted, so the label and triple prefixes read the
            # candidates (a few thousand rows) from this span's cache
            "candidates_fused.extract_candidates_auto":
                lambda: self._auto(spark).persist(),
        }

    def _downstream(self, cands) -> Dict[str, Callable[[], object]]:
        """The prefixes after the candidates, over materialized candidates,
        so that the small label and triple layers are not lost in the
        candidate stage's run-to-run spread."""
        from fonduer_spark.corpus import PRED
        from fonduer_spark.labeling import with_marginals
        from fonduer_spark.pipeline import default_lfs
        from fonduer_spark.triples import materialize_triples

        return {
            "candidates.cached": lambda: cands,
            "labeling.with_marginals": lambda: with_marginals(
                cands, default_lfs()),
            "triples.materialize_triples": lambda: materialize_triples(
                with_marginals(cands, default_lfs()), pred=PRED,
                prob_threshold=0.5),
        }

    def _parse_prefixes(self, spark, docs, specs, cfg) -> dict:
        """Prefixes that split render and parse in Spark (kg_build only:
        the replay gives these per document on every workload)."""
        return {}

    @staticmethod
    def _spans(spark, tracer, prefixes, repeats, release=True):
        """Returns the frame of the last span."""
        for r in range(repeats):
            for name, build in prefixes.items():  # interleaved repeats
                if release:
                    release_caches(spark)
                with tracer.span(f"{name}#{r}", parent="prefixes"):
                    df = build()
                    noop(df)
        return df

    def traced(self, spark, tracer: Tracer, layers=None) -> tuple:
        from probes import SparkRest, stage_totals

        prefixes = self._prefixes(spark)
        # nothing below persists, so the candidates stay cached
        cands = self._spans(spark, tracer, prefixes, PREFIX_REPEATS)
        self._spans(spark, tracer, self._downstream(cands), DOWNSTREAM_REPEATS,
                    release=False)
        release_caches(spark)
        stages = SparkRest(spark).group_stages(
            x for n in prefixes for x in tracer.repeats(n))

        def med(n, key=None):
            return statistics.median(
                tracer.seconds(x) if key is None
                else stage_totals(stages[x])[key] for x in tracer.repeats(n))

        out = replay(self._docs_list(), self.render() or _render_page, False)
        nd = self.inp.n_docs
        load = "corpus.load_docs"
        fused = "candidates_fused.extract_candidates_fused"
        auto = "candidates_fused.extract_candidates_auto"
        # the fused stage's task time per document, less its replayed work
        stage_ms = 1e3 * (med(fused, "executor_run_s")
                          - med(load, "executor_run_s")) / nd
        replayed_ms = (out["corpus.render_ms_per_doc"] + out["parse.ms_per_doc"]
                       + out["mentions_op.ms_per_doc"]
                       + 1e3 * out["candidates_fused.product_s"] / nd)

        def shuffle_mb(n):
            return med(n, "shuffle_read_mb") + med(n, "shuffle_write_mb")

        out.update({
            "corpus.scan_s": med(load),
            "candidates_fused.stage_s": med(fused),
            "candidates_fused.arrow_ms_per_doc": stage_ms - replayed_ms,
            "candidates_op.join_s": med(auto) - med(fused),
            "candidates_op.shuffle_mb": shuffle_mb(auto) - shuffle_mb(fused),
            "labeling.s": med("labeling.with_marginals")
            - med("candidates.cached"),
            "triples.s": med("triples.materialize_triples")
            - med("labeling.with_marginals"),
            "triples.rows": len(self.gold),
        })
        return out, []


class KgBuild(KgScored):
    """kg_stages(spark, dir)["triples"] over typical pages."""

    name = "kg_build"
    layers = KgScored.layers + tuple(
        layer for ls in SIDE_LAYERS.values() for layer in ls)

    def run(self, spark):
        from fonduer_spark.pipeline import kg_stages

        return kg_stages(spark, self.dir)["triples"].select(
            "subj", "pred", "obj", "n_provenance").collect()

    def traced(self, spark, tracer: Tracer, layers=None) -> tuple:
        out, errors = super().traced(spark, tracer)
        side, side_errors = side_layers(spark, tracer, self.inp)
        out.update(side)
        return out, errors + side_errors

    def _parse_prefixes(self, spark, docs, specs, cfg) -> dict:
        from fonduer_spark.corpus import make_web_pages
        from fonduer_spark.mentions_op import extract_mentions_fused

        return {
            "corpus.make_web_pages": lambda: make_web_pages(spark, self.dir),
            "mentions_op.extract_mentions_fused": lambda: extract_mentions_fused(
                docs(), specs, parse_cfg=cfg),
        }


class KgSkew(KgScored):
    """The scored path of kg_stages over a corpus with hot documents."""

    name = "kg_skew"

    def render(self):
        return self.inp.render

    def run(self, spark):
        from fonduer_spark.corpus import PRED
        from fonduer_spark.labeling import with_marginals
        from fonduer_spark.pipeline import default_lfs
        from fonduer_spark.triples import materialize_triples

        cands = self._auto(spark)
        scored = with_marginals(cands, default_lfs())
        return materialize_triples(scored, pred=PRED, prob_threshold=0.5).select(
            "subj", "pred", "obj", "n_provenance").collect()

    def traced(self, spark, tracer: Tracer, layers=None) -> tuple:
        out, errors = super().traced(spark, tracer)
        # the relational strategy must produce the same candidates: every
        # body row pairs its part with the min and the max temperature
        from fonduer_spark.candidates_op import extract_candidates, same_row
        from fonduer_spark.corpus import load_docs
        from fonduer_spark.mentions_op import extract_mentions_fused
        from fonduer_spark.pipeline import default_mention_specs

        mentions = extract_mentions_fused(
            load_docs(spark, self.dir), default_mention_specs(),
            render=self.render())
        n = extract_candidates(mentions, "part_temp", "part", "temp",
                               throttler=same_row,
                               throttler_kind="column").count()
        release_caches(spark)
        if n != 2 * self.positives:
            errors.append(f"join strategy: {n} candidates, "
                          f"expected {2 * self.positives}")
        return out, errors


class NearDup(Workload):
    """The four banded-LSH operators, with the entry queries' parameters."""

    name = "near_dup"
    layers = ("functions", "session", "bench")

    def __init__(self, inp: gen.WorkloadInput) -> None:
        import __spark_entry__ as E

        super().__init__(inp)
        self.queries = {q: E.queries()[q] for q in NEAR_DUP_OPS}

    def prepare(self, spark) -> None:
        import __spark_entry__ as E

        oracles = E.oracle_sql()
        self.expected = {}
        with _duck(self.dir, ["documents", "embeddings"]) as con:
            for q in NEAR_DUP_OPS:
                od = con.sql(oracles[q]).df()
                self.expected[q] = norm_rows(
                    list(od.columns), od.itertuples(index=False, name=None))

    def run(self, spark):
        out = {}
        for q, fn in self.queries.items():
            df = fn(spark, self.dir)
            out[q] = (df.columns, df.collect())
        return out

    def check(self, spark, out) -> Optional[str]:
        for q, (cols, rows) in out.items():
            if norm_rows(cols, rows) != self.expected[q]:
                return f"{q}: {len(rows)} rows differ from the oracle"
        return None

    def traced(self, spark, tracer: Tracer, layers=None) -> tuple:
        out, got = {}, {}
        for q, fn in self.queries.items():
            op = NEAR_DUP_OPS[q]
            release_caches(spark)
            with tracer.span(op, parent="near_dup"):
                df = fn(spark, self.dir)
                got[q] = (df.columns, df.collect())
            out[f"{op}_s"] = tracer.seconds(op)
            out[f"{op}.persisted_rdds_after"] = persisted_rdds(spark)
        release_caches(spark)
        rows = {q: len(r) for q, (_, r) in got.items()}
        out["dedup.lsh_candidate_pairs"] = rows["dedup_minhash_pairs"]
        out["dedup.verify_yield"] = (rows["dedup_lsh_verified"]
                                     / max(1, rows["dedup_minhash_pairs"]))
        error = self.check(spark, got)
        return out, [error] if error else []


class KgCheckpointed(Workload):
    """run_checkpointed into a fresh snapshot root, then a second call that
    resumes from the committed snapshots."""

    name = "kg_checkpointed"
    layers = ("corpus", "parse", "mentions_op", "candidates_op", "labeling",
              "triples", "featurize", "linking", "checkpoints", "session",
              "bench")

    def prepare(self, spark) -> None:
        self.gold = self._gold_triples()

    def run(self, spark):
        import tempfile

        from fonduer_spark.pipeline import run_checkpointed

        root = tempfile.mkdtemp(prefix="snapshots-", dir=self.inp.work)
        stages, cp = run_checkpointed(spark, self.dir, root)
        t0 = time.perf_counter()
        resumed, cp2 = run_checkpointed(spark, self.dir, root)
        self.last_resume_s = time.perf_counter() - t0
        return root, stages, cp, resumed, cp2

    def check(self, spark, out) -> Optional[str]:
        root, stages, cp, resumed, cp2 = out
        if any(e[0] != "resume" for e in cp2.events):
            return "the second call recomputed a committed stage"
        rows = {e[1]: e[3] for e in cp.events}
        for name, df in resumed.items():
            if df.count() != rows[name]:
                return f"resumed {name}: row count differs from the computed"
        got = sorted(tuple(r) for r in resumed["triples"].select(
            "subj", "pred", "obj").collect())
        if got != self.gold:
            return f"triples differ from gold ({len(got)} vs {len(self.gold)})"
        return None

    def finish(self, spark, out) -> None:
        shutil.rmtree(out[0], ignore_errors=True)

    def traced(self, spark, tracer: Tracer, layers=None) -> tuple:
        from pyspark.sql import functions as F
        from pyspark.sql.readwriter import DataFrameWriter

        from fonduer_spark import checkpoints
        from fonduer_spark.corpus import load_docs
        from probes import SparkRest, stage_totals

        release_caches(spark)
        with tracer.span("corpus.load_docs", parent="kg_checkpointed"):
            noop(load_docs(spark, self.dir))
        # a span per snapshot commit; the commit's own cost is its time
        # beyond the parquet write of the stage's data
        commit, write = checkpoints.SnapshotTable.commit, DataFrameWriter.parquet
        written, overhead = [], []

        def timed_write(w, *a, **k):
            t0 = time.perf_counter()
            try:
                return write(w, *a, **k)
            finally:
                written.append(time.perf_counter() - t0)

        def traced_commit(table, df, *a, **k):
            name = f"checkpoints.{table.name}"
            with tracer.span(name, parent="run_checkpointed"):
                snap = commit(table, df, *a, **k)
            overhead.append(tracer.seconds(name) - written[-1])
            return snap

        release_caches(spark)
        checkpoints.SnapshotTable.commit = traced_commit
        DataFrameWriter.parquet = timed_write
        try:
            out = self.run(spark)
        finally:
            checkpoints.SnapshotTable.commit = commit
            DataFrameWriter.parquet = write
        root, stages, cp, _, _ = out
        secs = {e[1]: e[4] / 1e3 for e in cp.events}
        rows = {e[1]: e[3] for e in cp.events}
        nbytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(root) for f in fs)
        keys = stages["features"].agg(F.avg(F.size("keys"))).collect()[0][0]
        cand = stage_totals(SparkRest(spark).group_stages(
            ["checkpoints.candidates"])["checkpoints.candidates"])
        error = self.check(spark, out)
        self.finish(spark, out)
        release_caches(spark)
        res = {}
        if layers is None or "parse" in layers:
            res = replay(self._docs_list(), _render_page, True)
            for k in list(res):
                if k.startswith("candidates_fused."):
                    del res[k]   # the checkpointed path takes the join
        res.update({
            "corpus.scan_s": tracer.seconds("corpus.load_docs"),
            "candidates_op.join_s": secs["candidates"],
            "candidates_op.shuffle_mb": cand["shuffle_read_mb"]
            + cand["shuffle_write_mb"],
            "labeling.s": secs["scored"],
            "triples.s": secs["triples"],
            "triples.rows": rows["triples"],
            "featurize.s": secs["features"],
            "featurize.keys_per_candidate": float(keys or 0.0),
            "linking.s": secs["entities"],
            "linking.entities": rows["entities"],
            "checkpoints.commit_s": sum(overhead),
            "checkpoints.bytes_written_mb": nbytes / (1024 * 1024),
            "checkpoints.resume_s": self.last_resume_s,
        })
        return res, [error] if error else []


WORKLOADS = {w.name: w for w in (KgBuild, KgSkew, NearDup, KgCheckpointed)}
