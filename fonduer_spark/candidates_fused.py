"""Fused doc-local candidate generation: docs -> candidate rows in ONE stage.

The candidate product is document-local by construction (the "join key" is
the document, reference candidates.py:263-274), so the engine offers two
physical strategies:

- ``candidates_op.extract_candidates``: the relational equi-join — the
  general path (cross-document layouts, explicit salting, AQE skew-join);
- this module: a flatMap-style stage fusing render+parse+mention-extraction+
  product+filters+throttler per document — zero shuffles before the final
  aggregation, no intermediate mention materialization/persist. This is the
  BASELINE.json "salted, skew-aware flatMap-style DataFrame transform" in
  its literal form.

A throttler that declares blocking keys (``same_row_py.block_keys``) gets an
output-sensitive product: a per-document hash index on the keys makes it
O(|A| + |B| + output) instead of |A| x |B|, so hot documents cost what they
emit and ``extract_candidates_auto`` never routes them. Only an unkeyed
throttler's product is quadratic; for those, ``max_mentions_per_doc`` flags
documents above the cap to a side channel that ``extract_candidates_auto``
routes through the join path rather than silently exploding the task.

Both strategies emit identical rows (asserted in tests and by the driver's
oracle, which is strategy-independent).
"""

from __future__ import annotations

from typing import Callable, Iterator, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .mentions_op import MENTION_COLUMNS, MentionSpec

def _mention_schema_fields():
    from .mentions_op import MENTION_SCHEMA

    return [(f.name, f.dataType) for f in MENTION_SCHEMA.fields]


def candidate_schema() -> T.StructType:
    fields = []
    for prefix in ("a_", "b_"):
        for n, t in _mention_schema_fields():
            fields.append(T.StructField(prefix + n, t, True))
    fields += [
        T.StructField("candidate_type", T.StringType(), True),
        T.StructField("split", T.IntegerType(), True),
        T.StructField("candidate_sid", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
    ]
    return T.StructType(fields)


CANDIDATE_SCHEMA = candidate_schema()
CANDIDATE_COLUMNS = [f.name for f in CANDIDATE_SCHEMA.fields]

# slim output: only what labeling + triple materialization consume — cuts
# the per-row pandas/Arrow transfer ~7x on the hot path
SLIM_COLUMNS = ["candidate_type", "split", "candidate_sid", "url",
                "a_stable_id", "b_stable_id", "a_span_text", "b_span_text"]
CANDIDATE_SCHEMA_SLIM = T.StructType(
    [f for f in CANDIDATE_SCHEMA.fields if f.name in SLIM_COLUMNS])
SLIM_COLUMNS = [f.name for f in CANDIDATE_SCHEMA_SLIM.fields]

# A throttler may carry a ``block_keys(m) -> iterable of hashables``
# attribute, valid only if throttler(a, b) implies that a and b share a key.
# The keys are a pre-filter: the throttler still decides every pair they let
# through.
PyThrottler = Callable[[dict, dict], bool]

# candidate_type of the hot-doc overflow marker rows emitted by the fused
# stage (one per over-cap document; all other columns null except url/split)
OVERFLOW_TYPE = "_overflow"


def same_row_py(a: dict, b: dict) -> bool:
    """Python twin of candidates_op.same_row for the fused path."""
    return (
        a["table_sid"] is not None
        and a["table_sid"] == b["table_sid"]
        and not (a["row_start"] > b["row_end"] or b["row_start"] > a["row_end"])
    )


def _same_row_keys(m: dict):
    """Two mentions pass same_row_py only if they share a (table, row)."""
    if m["table_sid"] is None:
        return ()
    return [(m["table_sid"], r) for r in range(m["row_start"], m["row_end"] + 1)]


same_row_py.block_keys = _same_row_keys


def _doc_candidates(
    mentions_by_type: dict,
    candidate_type: str,
    type_a: str,
    type_b: str,
    throttler: Optional[PyThrottler],
    self_relations: bool,
    nested_relations: bool,
    symmetric_relations: bool,
    split: int,
    out: List[dict],
    slim: bool = False,
) -> None:
    """Product + filters for one document (reference candidates.py:248-325
    semantics, including filter order). With a keyed throttler, each ``a``
    is paired only with the ``b`` that share one of its keys, found through
    a hash index on ``ms_b``; rows come out in nested-loop order either
    way."""
    ms_a = mentions_by_type.get(type_a, ())
    ms_b = mentions_by_type.get(type_b, ())
    keys = getattr(throttler, "block_keys", None)
    if keys is not None:
        index: dict = {}
        for bi, b in enumerate(ms_b):
            for k in keys(b):
                index.setdefault(k, []).append(bi)
    every_b = range(len(ms_b))
    for ai, a in enumerate(ms_a):
        bis = every_b if keys is None else sorted(
            {bi for k in keys(a) for bi in index.get(k, ())})
        for bi in bis:
            b = ms_b[bi]
            if throttler is not None and not throttler(a, b):
                continue
            if not self_relations and a["stable_id"] == b["stable_id"]:
                continue
            if not nested_relations and (
                a["sentence_sid"] == b["sentence_sid"]
                and (
                    (b["char_start"] <= a["char_start"]
                     and a["char_end"] <= b["char_end"])
                    or (a["char_start"] <= b["char_start"]
                        and b["char_end"] <= a["char_end"])
                )
            ):
                continue
            if not symmetric_relations and ai > bi:
                continue
            if slim:
                out.append({
                    "candidate_type": candidate_type, "split": split,
                    "candidate_sid": f"{a['stable_id']}~~{b['stable_id']}",
                    "url": a["url"],
                    "a_stable_id": a["stable_id"],
                    "b_stable_id": b["stable_id"],
                    "a_span_text": a["span_text"],
                    "b_span_text": b["span_text"],
                })
                continue
            row = {}
            for k in MENTION_COLUMNS:
                row[f"a_{k}"] = a[k]
                row[f"b_{k}"] = b[k]
            row["candidate_type"] = candidate_type
            row["split"] = split
            row["candidate_sid"] = f"{a['stable_id']}~~{b['stable_id']}"
            row["url"] = a["url"]
            out.append(row)


def extract_candidates_fused(
    docs: DataFrame,
    specs: Sequence[MentionSpec],
    candidate_type: str,
    type_a: str,
    type_b: str,
    throttler: Optional[PyThrottler] = None,
    self_relations: bool = False,
    nested_relations: bool = False,
    symmetric_relations: bool = True,
    split: int = 0,
    render=None,
    parse_cfg=None,
    max_mentions_per_doc: Optional[int] = 10_000,
    slim: bool = False,
) -> DataFrame:
    """(doc_id, text) -> candidate rows, one python stage, no shuffle.

    Hot-doc guard: the product of a document whose mention count exceeds
    ``max_mentions_per_doc`` is NOT computed here; instead one marker row
    with ``candidate_type = OVERFLOW_TYPE`` (url/split set, mention columns
    null) is emitted so the overflow is detectable. ``extract_candidates_auto``
    consumes the markers and routes those documents through the relational
    join path (salted/AQE — built for skew); callers using this function
    directly must filter or route the markers themselves. ``None`` disables
    the cap (``extract_candidates_auto`` does so for keyed throttlers, whose
    product is output-sensitive).
    """
    from .corpus import render_page, url_of
    from .lingual import SimpleParser
    from .parse import ParseConfig, parse_document

    cfg = parse_cfg or ParseConfig()
    render = render or (lambda i, text: render_page(int(i), text))
    spec_list = list(specs)
    from .mentions_op import _fast_unigram_regex, iter_sentence_mentions

    fast_list = [_fast_unigram_regex(s) for s in spec_list]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lp = cfg.make_lingual_parser()
        for pdf in batches:
            out: List[dict] = []
            for i, text in zip(pdf["doc_id"], pdf["text"]):
                url = url_of(int(i))
                try:
                    rows = parse_document(
                        url, render(i, text), cfg, lp,
                        emit_types={"sentence"},
                    )
                except Exception:
                    continue
                by_type: dict = {}
                n_mentions = 0
                for row in rows:
                    for m in iter_sentence_mentions(row, spec_list, fast_list):
                        by_type.setdefault(m["mention_type"], []).append(m)
                        n_mentions += 1
                if (max_mentions_per_doc is not None
                        and n_mentions > max_mentions_per_doc):
                    # skew overflow: emit the marker row (url only) so the
                    # doc is detectable and routable via the join path
                    # (extract_candidates_auto); never silently dropped
                    marker = dict.fromkeys(
                        SLIM_COLUMNS if slim else CANDIDATE_COLUMNS)
                    marker["candidate_type"] = OVERFLOW_TYPE
                    marker["url"] = url
                    marker["split"] = split
                    out.append(marker)
                    continue
                _doc_candidates(
                    by_type, candidate_type, type_a, type_b, throttler,
                    self_relations, nested_relations, symmetric_relations,
                    split, out, slim=slim,
                )
            cols = SLIM_COLUMNS if slim else CANDIDATE_COLUMNS
            yield pd.DataFrame(out, columns=cols)

    schema = CANDIDATE_SCHEMA_SLIM if slim else CANDIDATE_SCHEMA
    return docs.select("doc_id", "text").mapInPandas(fn, schema)


def extract_candidates_auto(
    docs: DataFrame,
    specs: Sequence[MentionSpec],
    candidate_type: str,
    type_a: str,
    type_b: str,
    py_throttler: Optional[PyThrottler] = None,
    column_throttler=None,
    self_relations: bool = False,
    nested_relations: bool = False,
    symmetric_relations: bool = True,
    split: int = 0,
    render=None,
    parse_cfg=None,
    max_mentions_per_doc: int = 10_000,
    slim: bool = False,
    salt_buckets: int = 8,
    persist: bool = True,
    probe: str = "lazy",
) -> DataFrame:
    """Fused candidate generation with hot-doc overflow ROUTED, not dropped.

    Keyed throttler (``py_throttler.block_keys``, e.g. ``same_row_py``):
    returns ``extract_candidates_fused`` with no mention cap — one Python
    stage, no persist, no Spark job at construction, no overflow branch.
    The keyed product is O(|A| + |B| + output) per document, so no document
    needs routing; ``max_mentions_per_doc``, ``probe``, ``persist`` and
    ``column_throttler`` do not apply.

    Unkeyed throttler: normal documents take the fused single-stage path;
    documents whose mention count exceeds ``max_mentions_per_doc`` emit
    only an overflow marker, are re-selected from ``docs`` (broadcast
    semi-join on the tiny marker set), and their quadratic product runs
    through the relational join path with explicit salting — the strategy
    built for skew (candidates_op.extract_candidates). The union is
    row-identical to running either strategy alone (asserted in tests).

    ``py_throttler``/``column_throttler`` must be the same predicate in its
    two physical forms (e.g. same_row_py / same_row); overflow docs use the
    column form so Catalyst pushes it into the join.

    ``persist=True`` (default) caches the fused output so the marker scan
    does not re-run the parse stage — the normal branch and the marker
    branch both read the cached frame (one parse pass total). Long-lived
    drivers building many pipelines should unpersist or rely on LRU block
    eviction.

    ``probe="eager"`` (requires ``persist``, else ValueError): run the
    fused stage AT CALL TIME (one job — the same job the overflow branch's
    broadcast would trigger at first action anyway) and, when ZERO
    documents overflow, return the normal branch alone, so the union's
    empty join-path subtree is never planned. Rows are identical either
    way; only query CONSTRUCTION becomes eager, which is why the default
    stays "lazy".
    """
    from pyspark.sql import functions as F

    from .candidates_op import extract_candidates
    from .mentions_op import extract_mentions_fused

    if probe not in ("lazy", "eager"):
        raise ValueError(f"unknown probe mode {probe!r}: 'lazy' or 'eager'")
    keyed = getattr(py_throttler, "block_keys", None) is not None
    if not keyed and probe == "eager" and not persist:
        raise ValueError("probe='eager' needs persist=True: the probe "
                         "fills the cache the overflow branch reads")
    fused = extract_candidates_fused(
        docs, specs, candidate_type, type_a, type_b,
        throttler=py_throttler, self_relations=self_relations,
        nested_relations=nested_relations,
        symmetric_relations=symmetric_relations, split=split,
        render=render, parse_cfg=parse_cfg,
        max_mentions_per_doc=None if keyed else max_mentions_per_doc,
        slim=slim,
    )
    if keyed:
        return fused
    if persist:
        fused = fused.persist()
    normal = fused.where(F.col("candidate_type") != OVERFLOW_TYPE)
    if probe == "eager":
        # count(), NOT isEmpty(): take(1) escalates over partition subsets
        # (1 -> 4 -> 20 -> all) and would run the Python parse in
        # sequential low-parallelism waves when no marker exists; count()
        # fills the cache in one full-width job.
        n_over = fused.where(
            F.col("candidate_type") == OVERFLOW_TYPE).count()
        if n_over == 0:
            cols = SLIM_COLUMNS if slim else CANDIDATE_COLUMNS
            return normal.select(*cols)
    # marker urls -> doc ids (url = corpus.url_of(doc_id) = ...d<id>)
    over_ids = (
        fused.where(F.col("candidate_type") == OVERFLOW_TYPE)
        .select(
            F.regexp_extract("url", r"d(\d+)$", 1).cast("long").alias("doc_id")
        )
    )
    # AQE-sizable exchange: over_docs inherits the full docs partitioning
    # (e.g. 4x parallelism), so without this the overflow mention stage
    # schedules that many Python tasks even when ZERO docs overflow —
    # measured ~0.5 s of no-op task churn per pipeline run. A keyed
    # repartition lets AQE coalesce the (usually empty) side to ~1 task
    # while real overflow spreads by bytes as before (guide §2.2).
    over_docs = docs.join(F.broadcast(over_ids), "doc_id").repartition("doc_id")
    mentions_o = extract_mentions_fused(
        over_docs, specs, render=render, parse_cfg=parse_cfg)
    cands_o = extract_candidates(
        mentions_o, candidate_type, type_a, type_b,
        throttler=column_throttler, throttler_kind="column",
        self_relations=self_relations, nested_relations=nested_relations,
        symmetric_relations=symmetric_relations, split=split,
        salt_buckets=salt_buckets,
    )
    cols = SLIM_COLUMNS if slim else CANDIDATE_COLUMNS
    return normal.select(*cols).unionByName(cands_o.select(*cols))
