"""The flagship end-to-end KG-construction pipeline.

web_pages -> parse -> mentions -> candidates -> label -> triples, each stage
a DataFrame transform (SURVEY.md §7.1). The relation extracted is the
hardware-tutorial-style "(part, stg_temp_max)" binary relation over
row-aligned table cells — the same shape as the reference's e2e test
(/root/reference/tests/e2e/test_e2e.py) — whose gold output on the synthetic
corpus is reconstructible in pure SQL (corpus.gold_triples_sql).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .candidates_op import extract_candidates, same_row
from .corpus import PRED, load_docs, make_web_pages
from .labeling import with_marginals
from .matchers import RegexMatchSpan
from .mention_spaces import MentionNgrams
from .mentions_op import MentionSpec, extract_mentions, extract_mentions_fused
from .parse import contexts_of, parse_webpages
from .triples import materialize_triples

PART_RGX = r"PN\d{3}[A-C]"
TEMP_RGX = r"-?\d{1,3}"


def default_mention_specs() -> list:
    return [
        MentionSpec(
            "part",
            MentionNgrams(n_min=1, n_max=1),
            RegexMatchSpan(rgx=PART_RGX, ignore_case=False),
        ),
        MentionSpec(
            "temp",
            MentionNgrams(n_min=1, n_max=1),
            RegexMatchSpan(rgx=TEMP_RGX, ignore_case=False),
        ),
    ]


def default_lfs() -> Dict[str, object]:
    """Three column-expression LFs; majority vote selects positive temps.

    tmax rows vote (1,1,1) -> prob 1.0; tmin rows vote (0,0,1) -> prob 1/3.
    """
    # try_cast: a malformed value yields NULL (LF abstains) instead
    # of failing the job under ANSI mode
    obj_int = F.col("b_span_text").try_cast("int")
    return {
        "lf_temp_sign": F.when(obj_int > 0, 1).otherwise(0),
        "lf_in_range": (
            F.when((obj_int >= 50) & (obj_int <= 200), 1)
            .when(obj_int < 0, 0)
            .otherwise(-1)
        ),
        "lf_part_format": F.when(
            F.col("a_span_text").rlike(r"^PN\d{3}[A-C]$"), 1
        ).otherwise(-1),
    }


def kg_stages(
    spark: SparkSession,
    sf_dir: str,
    max_docs: Optional[int] = None,
    salt_buckets: int = 0,
    replicate: int = 1,
    candidate_strategy: str = "fused",
    label_model: str = "majority",
) -> Dict[str, DataFrame]:
    """Build every stage lazily; returns the dict of stage DataFrames.
    Construction runs no Spark job, except the "triplet" label model's fit.

    ``label_model``: "majority" (the default, a pure projection — and what
    the gold oracle assumes for the default LFs) or "triplet" (the
    accuracy-weighted generative model; adds one aggregation pass at fit).

    ``candidate_strategy``:
    - "fused" (default): the candidate product is document-local, so
      render+parse+mentions+product+filters run in ONE flatMap-style Python
      stage — zero shuffles before the triple aggregation (no mention
      materialization/persist). ``same_row_py`` is a keyed throttler, so
      hot documents stay in that stage: their product costs what it emits.
    - "join": materialize mentions, then the relational equi-join on url
      with column-predicate throttlers (explicit salting + AQE skew-join) —
      the general path for cross-document relations; also what salt_buckets
      implies.
    Both produce identical rows (tested + oracle-checked). Callers release
    ``stages["mentions"]`` with ``unpersist()``; only the join strategy
    persists it.
    """
    pages = make_web_pages(spark, sf_dir, max_docs, replicate=replicate)
    parsed = parse_webpages(pages)
    sentences = contexts_of(parsed, "sentence")
    docs = load_docs(spark, sf_dir, max_docs, replicate)
    # mentions as a standalone frame (fused render+parse+extract — one
    # python stage)
    mentions = extract_mentions_fused(docs, default_mention_specs())

    if candidate_strategy == "join" or salt_buckets > 0:
        mentions = mentions.persist()  # the self-join reads it twice
        candidates = extract_candidates(
            mentions, "part_temp", "part", "temp",
            throttler=same_row, throttler_kind="column",
            salt_buckets=salt_buckets,
        )
        scored_input = candidates
    else:
        from .candidates_fused import extract_candidates_auto, same_row_py
        from .parse import ParseConfig

        def auto(**kw) -> DataFrame:
            return extract_candidates_auto(
                docs, default_mention_specs(), "part_temp", "part", "temp",
                py_throttler=same_row_py, column_throttler=same_row, **kw)

        candidates = auto()
        # label/triple path reads a SLIM variant (8 columns instead of 46):
        # same rows, ~7x less pandas/Arrow transfer. structural=False skips
        # xpath/sibling/ancestor attach entirely — the label/triple path
        # never reads them, and the DOM walks are ~15% of the fused stage's
        # CPU (measured at 32 cores). The wide `candidates` frame keeps the
        # full structural parse for featurization queries.
        scored_input = auto(slim=True, parse_cfg=ParseConfig(structural=False))

    if label_model == "triplet":
        from .labeling import triplet_marginals

        scored = triplet_marginals(scored_input, default_lfs())
    else:
        scored = with_marginals(scored_input, default_lfs())
    return {
        "web_pages": pages,
        "parsed": parsed,
        "sentences": sentences,
        "mentions": mentions,
        "candidates": candidates,
        "scored": scored,
        "triples": materialize_triples(scored, pred=PRED, prob_threshold=0.5),
    }


def kg_triples(
    spark: SparkSession, sf_dir: str, max_docs: Optional[int] = None
) -> DataFrame:
    """The flagship query: distinct (subj, pred, obj) triples, sorted."""
    return (
        kg_stages(spark, sf_dir, max_docs)["triples"]
        .select("subj", "pred", "obj")
        .orderBy("subj", "obj")
    )


def run_checkpointed(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    max_docs: Optional[int] = None,
    replicate: int = 1,
):
    """Materialize the pipeline through snapshot-committed stage tables with
    per-stage lineage rows; re-running with the same inputs resumes from the
    last committed snapshot (kill -> rerun -> identical outputs).

    Returns (stage_name -> DataFrame read from its committed snapshot,
    checkpointed-pipeline object).
    """
    from .checkpoints import CheckpointedPipeline
    from .featurize import featurize
    from .linking import canonical_entities

    signature = f"sf={sf_dir};max={max_docs};rep={replicate};v=1"
    cp = CheckpointedPipeline(spark, root, signature)

    docs = load_docs(spark, sf_dir, max_docs, replicate)
    mentions = cp.stage(
        "mentions",
        lambda: extract_mentions_fused(docs, default_mention_specs()),
    )
    candidates = cp.stage(
        "candidates",
        lambda: extract_candidates(
            mentions, "part_temp", "part", "temp",
            throttler=same_row, throttler_kind="column",
        ),
    )
    scored = cp.stage(
        "scored", lambda: with_marginals(candidates, default_lfs())
    )
    features = cp.stage("features", lambda: featurize(candidates))
    entities = cp.stage("entities", lambda: canonical_entities(mentions))
    triples = cp.stage(
        "triples",
        lambda: materialize_triples(scored, pred=PRED, prob_threshold=0.5),
        partition_by=["pred"],  # partitioned graph table (north_rule)
    )
    cp.checkpoints()
    return {
        "mentions": mentions,
        "candidates": candidates,
        "scored": scored,
        "features": features,
        "entities": entities,
        "triples": triples,
    }, cp
