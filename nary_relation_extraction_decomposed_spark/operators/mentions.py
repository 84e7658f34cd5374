"""Entity-mention detection + sentence analysis (Arrow-vectorized).

The gazetteer is collected once on the driver, built into a token-trie
index (kernels.GazetteerIndex) and broadcast to executors (sc.broadcast) —
the classic small-dim pattern: docs stream through mapInPandas while the
dictionary lives once per executor, no shuffle, no join. The same index
backs the fused per-doc pass (graph.doc_kg_combined / doc_kg_pairs); the
operators here are its standalone stages, used by the checkpointed lane
and the oracle keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .kernels import GazetteerIndex, detect_mentions_in_text, sentence_predicates

MENTIONS_SCHEMA = (
    "url string, mention_id int, ent_id string, ent_type string, "
    "surface string, surface_norm string, begin int, end int, sent_id int, "
    "tok_begin int, tok_end int"
)
# pred = first vocab token (sentence-level summary); preds/pred_toks = ALL
# vocab tokens + their token indexes, feeding the nearest-predicate
# attachment rule (kernels.nearest_pred) that resolves the evidence
# predicate per pivot mention
SENTENCES_SCHEMA = (
    "url string, sent_id int, n_tokens int, pred string, "
    "preds array<string>, pred_toks array<int>"
)


def gazetteer_as_of(gazetteer: DataFrame, ts) -> DataFrame:
    """Snapshot-aware dictionary: the latest row per (surface_norm, ent_id)
    with snap_ts <= ts — the as-of pattern applied to the KG dictionary so a
    rerun against a historical crawl uses the dictionary of that time."""
    w = Window.partitionBy("surface_norm", "ent_id").orderBy(F.col("snap_ts").desc())
    return (
        gazetteer.filter(F.col("snap_ts") <= F.lit(ts))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def build_gazetteer_index(gazetteer: DataFrame) -> GazetteerIndex:
    """Collect (surface_norm, ent_id, ent_type) and build the scan index.
    Driver-side by design: the gazetteer is the SMALL side."""
    rows = [
        (r["surface_norm"], r["ent_id"], r["ent_type"])
        for r in gazetteer.select("surface_norm", "ent_id", "ent_type").collect()
    ]
    return GazetteerIndex.build(rows)


def detect_mentions(docs: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """docs(url, text) -> mentions rows (MENTIONS_SCHEMA).

    Longest-match gazetteer scan per document, executed over Arrow batches;
    mention_id is the (begin, end) ordinal within the doc — deterministic
    under any partitioning.
    """
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(build_gazetteer_index(gazetteer))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = bc.value
        cols = [
            "url", "mention_id", "ent_id", "ent_type",
            "surface", "surface_norm", "begin", "end", "sent_id",
            "tok_begin", "tok_end",
        ]
        for pdf in it:
            out: dict[str, list] = {c: [] for c in cols}
            for url, text in zip(pdf["url"], pdf["text"]):
                if not isinstance(text, str) or not text:
                    continue
                for m in detect_mentions_in_text(text, gaz):
                    out["url"].append(url)
                    for k in cols[1:]:
                        out[k].append(m[k])
            yield pd.DataFrame(out, columns=cols)

    return docs.select("url", "text").mapInPandas(batches, schema=MENTIONS_SCHEMA)


def analyze_sentences(docs: DataFrame, pred_vocab: list[str]) -> DataFrame:
    """docs(url, text) -> one row per sentence with its predicate summary
    (first vocab token) plus all pred token positions (SENTENCES_SCHEMA)."""
    vocab = frozenset(pred_vocab)
    cols = ["url", "sent_id", "n_tokens", "pred", "preds", "pred_toks"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {c: [] for c in cols}
            for url, text in zip(pdf["url"], pdf["text"]):
                if not isinstance(text, str):
                    text = ""
                for s in sentence_predicates(text, vocab):
                    out["url"].append(url)
                    for c in cols[1:]:
                        out[c].append(s[c])
            yield pd.DataFrame(out, columns=cols)

    return docs.select("url", "text").mapInPandas(batches, schema=SENTENCES_SCHEMA)
