"""End-to-end KG-construction pipeline.

pages(url, warc_ts, html, text, lang)
  -> filter (lang/null, pre-UDF so it pushes into the scan)
  -> dedup latest per url (deterministic row_number)
  -> resolve text (frozen extractor, mapInPandas; drops html)
  -> combined doc pass: mention detection + sentence analysis + per-doc
     graph BFS in ONE mapInPandas (broadcast gazetteer) — zero shuffles
     docs->evidence, since dedup leaves one row per url; mentions/
     sentences/evidence recovered by filter+project. Enriched graph:
     co-mention + token-window edges, default ON.
  -> binary sub-relations (filter+project of the evidence: the n-ary
     decomposition)
  -> ER canonical map (MinHash-LSH + connected components)
  -> rejoin into (subj, pred, obj) triples + support

Every stage is a DataFrame in -> DataFrame out function; plans/checkpoint.py
wraps stages with the per-stage parquet checkpoint + manifest for
kill-resume (run_pipeline_checkpointed runs the same chain as separate
detection / sentence / graph stages so each one checkpoints on its own).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..operators import er, graph, mentions as M, textprep, triples as T
from ..operators.kernels import MAX_PATH_LEN, TOKEN_WINDOW


def _rejoin(subrels, pred_rules, canon, config, url_level=False):
    """Rejoin dispatch on the rule-table schema: a (slot, pred, pred_out)
    table takes the GENERALIZED n-ary path (any arity = len(arg_slots)+1);
    the legacy (subrel_a, subrel_b, pred_a, pred_b) binary-rule table takes
    the 3-ary specialization. url_level=True returns the distinct
    (subj, pred, obj, url) evidence pairs instead of aggregated support
    (the streaming delta granularity)."""
    cols = set(pred_rules.columns)
    if {"slot", "pred", "pred_out"} <= cols:
        slots = [s for _, s in config.arg_slots]
        return T.rejoin_nary(subrels, pred_rules, slots, canon, url_level)
    if len(config.arg_slots) != 2:
        raise ValueError(
            f"arity {len(config.arg_slots) + 1} needs a (slot, pred, pred_out) "
            f"rule table; the binary-rule table {sorted(cols)} only supports "
            "slots (a, b)"
        )
    return T.rejoin_triples(subrels, pred_rules, canon, url_level)


@dataclass(frozen=True)
class PipelineConfig:
    pivot_type: str = "DRUG"
    arg_slots: tuple[tuple[str, str], ...] = (("GENE", "a"), ("VARIANT", "b"))
    pred_vocab: tuple[str, ...] = ("inhibits", "activates", "binds", "modulates")
    lang: str = "en"
    max_path_len: int = MAX_PATH_LEN
    canonicalize: bool = True
    # enriched doc graph (DEFAULT ON since round 3 — the dependency/coref
    # stand-in; goldens are generated with both flags at these defaults):
    # co-mention = same-sentence mention<->mention edges (never changes
    # acceptance); token_window = adjacent-sentence proximity edges (CAN
    # accept chained cross-sentence evidence the base graph rejects) —
    # see operators/kernels.bfs_evidence
    co_mention_edges: bool = True
    token_window: int | None = TOKEN_WINDOW
    # round 6: ALSO fuse decompose + rejoin + per-doc triple dedup into the
    # doc mapInPandas (graph.doc_kg_pairs) — the rejoin key
    # (url, pivot_mid, pred) never leaves a document, so the staged path's
    # subrel materialization (localCheckpoint write + two re-reads) and
    # corpus-wide self-join are pure overhead when only `triples` is
    # consumed; the support aggregation becomes the pipeline's ONLY
    # corpus-level exchange (measured 13.2x JVM bytes/doc, 2.35x wall —
    # BENCH/BASELINE.md round 6). Trade-off: the triples frame no longer
    # derives from the combined stream, so a caller that ALSO materializes
    # mentions/evidence (the staged checkpoint lane, the streaming job
    # with its surfaces sidecar) or canonicalizes (the canon map reads
    # corpus mention surfaces) pays a second detection pass — the
    # streaming job keeps this False; the checkpointed runner supports
    # both lanes (r6 cont.). Both rule-table schemas dispatch inside doc_kg_pairs
    # (binary subrel pairs AND the generalized (slot, pred, pred_out)
    # any-arity tables), mirroring _rejoin.
    fused_rejoin: bool = False
    # latest-per-url dedup mode — the pipeline's ONLY corpus-wide
    # full-text shuffle:
    #   'latest' (default): always dedup (a crawl always has re-crawls);
    #   'auto':  exact narrow probe (textprep.urls_are_unique, ~50 B/row)
    #            first — a corpus that is already one-row-per-url (re-run
    #            over a cleaned snapshot / checkpointed docs stage) skips
    #            the text shuffle entirely, making the fused path truly
    #            zero-shuffle from parquet to evidence;
    #   'skip':  caller asserts one row per url (checkpointed docs stage).
    # The one-row-per-url contract that doc_kg_combined requires holds in
    # all three modes.
    dedup_mode: str = "latest"
    # partitioning floor for Python-heavy stages (None -> 2x cores); see
    # operators/graph.py on why AQE byte-coalescing must not size these
    python_parallelism: int | None = None
    collect_metrics: bool = False


@dataclass
class PipelineResult:
    docs: DataFrame
    # None in the fused-rejoin CHECKPOINTED lane, whose single UDF never
    # surfaces the intermediate frames (mentions stays populated whenever
    # canonicalize is on; run_pipeline itself always recovers all four
    # from the combined stream)
    mentions: DataFrame | None
    sentences: DataFrame | None
    evidence: DataFrame | None
    subrels: DataFrame | None
    canon_map: DataFrame | None
    triples: DataFrame
    stages: dict[str, DataFrame] = field(default_factory=dict)
    metrics: dict | None = None  # extraction accumulators (read after action)


def run_pipeline_checkpointed(
    pages: DataFrame,
    gazetteer: DataFrame,
    pred_rules: DataFrame,
    config: PipelineConfig,
    ckpt_root: str,
    corpus_fp: str,
    gaz_fp: str | None = None,
    rules_fp: str | None = None,
) -> tuple[PipelineResult, "object"]:
    """run_pipeline with per-stage checkpoint/manifest (kill-resume).

    Stage DAG and fingerprints chain so a rerun after ANY kill point skips
    every committed stage and recomputes only the tail. Returns (result,
    checkpointer) — checkpointer.stats records skipped/built per stage.

    The gazetteer and rule-table CONTENT chain into the fingerprints of
    the stages that consume them (mentions/pairs and triples), so a rerun
    against the same checkpoint root with an edited dim recomputes exactly
    the affected suffix instead of replaying stale results (pre-v3 bug:
    only the pages path + config were fingerprinted). Both dims are
    broadcast-class by design; pass a precomputed gaz_fp/rules_fp version
    tag to skip the content scan for unusually large sides.

    config.fused_rejoin takes the production fast lane through stage
    "pairs" (graph.doc_kg_pairs, ONE Python crossing docs->url-level
    pairs) + "triples" (pairs_to_triples support agg) — the same lane
    bench/scaling measure, now with per-stage kill-resume. Equivalence to
    the staged lane is pinned (tests/test_catalog_checkpoint.py). In that
    lane sentences/evidence/subrels are not materialized (the fused UDF
    never surfaces them); mentions/canon are built only when
    config.canonicalize.
    """
    from .checkpoint import StageCheckpointer, content_fingerprint, fingerprint

    spark = pages.sparkSession
    ck = StageCheckpointer(spark, ckpt_root)
    cfg_fp = fingerprint(corpus_fp, repr(config))
    gaz_fp = gaz_fp or content_fingerprint(gazetteer)
    rules_fp = rules_fp or content_fingerprint(pred_rules)

    width = config.python_parallelism or (
        spark.sparkContext.defaultParallelism * 2
    )
    docs, fp_docs = ck.run_stage(
        "docs", cfg_fp,
        lambda: textprep.dedup_latest_text(
            textprep.resolve_text(textprep.filter_pages(pages, config.lang)),
            num_partitions=width,
        ),
    )

    def mentions_stage():
        return ck.run_stage(
            "mentions", fingerprint(fp_docs, gaz_fp),
            lambda: M.detect_mentions(docs, gazetteer),
        )

    if config.fused_rejoin:
        pairs, fp_p = ck.run_stage(
            "pairs", fingerprint(fp_docs, gaz_fp, rules_fp),
            lambda: graph.doc_kg_pairs(
                docs, gazetteer, list(config.pred_vocab),
                config.pivot_type, list(config.arg_slots), pred_rules,
                config.max_path_len,
                co_mention_edges=config.co_mention_edges,
                token_window=config.token_window,
            ),
        )
        if config.canonicalize:
            ments, fp_m = mentions_stage()
            canon, fp_c = ck.run_stage(
                "canon", fp_m,
                lambda: er.canonical_map(ments.select("surface_norm")),
            )
        else:
            ments, canon, fp_c = None, None, "nocanon"
        trips, _ = ck.run_stage(
            "triples", fingerprint(fp_p, fp_c),
            lambda: T.pairs_to_triples(pairs, canon),
        )
        result = PipelineResult(
            docs=docs, mentions=ments, sentences=None, evidence=None,
            subrels=None, canon_map=canon, triples=trips,
            stages={"pairs": pairs},
        )
        return result, ck

    ments, fp_m = mentions_stage()
    sents, fp_s = ck.run_stage(
        "sentences", fp_docs,
        lambda: M.analyze_sentences(docs, list(config.pred_vocab)),
    )
    ev, fp_e = ck.run_stage(
        "evidence", fingerprint(fp_m, fp_s),
        lambda: graph.doc_graph_subrels(
            ments, sents, config.pivot_type, list(config.arg_slots),
            config.max_path_len, num_partitions=width,
            co_mention_edges=config.co_mention_edges,
            token_window=config.token_window,
        ),
    )
    subrels, fp_sr = ck.run_stage(
        "subrels", fp_e, lambda: T.subrels_from_evidence(ev)
    )
    if config.canonicalize:
        canon, fp_c = ck.run_stage(
            "canon", fp_m, lambda: er.canonical_map(ments.select("surface_norm"))
        )
    else:
        canon, fp_c = None, "nocanon"
    trips, _ = ck.run_stage(
        "triples", fingerprint(fp_sr, fp_c, rules_fp),
        lambda: _rejoin(subrels, pred_rules, canon, config),
    )
    result = PipelineResult(
        docs=docs, mentions=ments, sentences=sents, evidence=ev,
        subrels=subrels, canon_map=canon, triples=trips,
    )
    return result, ck


def run_pipeline(
    pages: DataFrame,
    gazetteer: DataFrame,
    pred_rules: DataFrame,
    config: PipelineConfig = PipelineConfig(),
) -> PipelineResult:
    width = config.python_parallelism or (
        pages.sparkSession.sparkContext.defaultParallelism * 2
    )
    metrics = (
        textprep.make_extract_metrics(pages.sparkSession)
        if config.collect_metrics else None
    )
    # Extract FIRST (map-only, html never shuffles), THEN dedup latest per
    # url on text rows — at web scale html is 5-20x the text, so this keeps
    # the wide shuffle small at the cost of extracting the few % duplicate
    # crawls. persist: docs feeds both mention detection and sentence
    # analysis (accumulator caveat: task retries can overcount; the
    # checkpointed variant's manifest rows are exact).
    # pages_from-style sources are pre-partitioned; filter+resolve are
    # map-only, so when dedup is skippable the docs frame reaches the fused
    # pass WITHOUT any shuffle at all
    pre = textprep.filter_pages(pages, config.lang)
    resolved = textprep.resolve_text(pre, metrics=metrics)
    if config.dedup_mode == "skip" or (
        config.dedup_mode == "auto" and textprep.urls_are_unique(
            pre.select("url")
        )
    ):
        docs = resolved
        # the dedup's repartition doubled as the Python-stage width pin;
        # without it, only top up when the source is under-partitioned
        # (pre-partitioned sources keep the true zero-shuffle path)
        if docs.rdd.getNumPartitions() < width:
            docs = docs.repartition(width)
        docs = docs.persist()
    else:
        docs = textprep.dedup_latest_text(resolved, num_partitions=width).persist()

    # ONE Python crossing and ZERO shuffles from docs to evidence:
    # dedup_latest_text leaves exactly one row per url, so detection +
    # sentence analysis + per-doc graph BFS all run inside a single
    # mapInPandas (graph.doc_kg_combined); mentions/sentences/evidence
    # and the ER surface recover by filter+project. persist: the
    # combined stream is referenced by all of them.
    combined = graph.doc_kg_combined(
        docs, gazetteer, list(config.pred_vocab),
        config.pivot_type, list(config.arg_slots),
        config.max_path_len,
        co_mention_edges=config.co_mention_edges,
        token_window=config.token_window,
    ).persist()
    ments = graph.mentions_from_combined(combined)
    sents = graph.sentences_from_combined(combined)
    ev = graph.evidence_from_combined(combined)
    subrels = T.subrels_from_evidence(ev)

    canon = er.canonical_map(ments.select("surface_norm")) if config.canonicalize else None
    if config.fused_rejoin:
        # triples-only fast lane (see fused_rejoin docstring): ONE doc
        # mapInPandas emits per-doc-distinct pairs; the support agg is the
        # only corpus exchange. Equivalence to the staged chain is pinned
        # (test_pairs_fusion_equals_staged, test_fused_pipeline_equals_unfused).
        trips = T.pairs_to_triples(
            graph.doc_kg_pairs(
                docs, gazetteer, list(config.pred_vocab),
                config.pivot_type, list(config.arg_slots), pred_rules,
                config.max_path_len,
                co_mention_edges=config.co_mention_edges,
                token_window=config.token_window,
            ),
            canon,
        )
    else:
        trips = _rejoin(subrels, pred_rules, canon, config)

    return PipelineResult(
        docs=docs,
        mentions=ments,
        sentences=sents,
        evidence=ev,
        subrels=subrels,
        canon_map=canon,
        triples=trips,
        metrics=metrics,
    )
