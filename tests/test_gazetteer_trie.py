"""Broadcast-trie gazetteer detection (mentions.detect_mentions): the
longest-match-left-to-right / no-overlap scan, the duplicate-surface tie
rule, and whitespace-normalised dictionary surfaces."""

from __future__ import annotations

from nary_relation_extraction_decomposed_spark.operators import mentions as M

COLS = [
    "url", "mention_id", "ent_id", "ent_type", "surface",
    "surface_norm", "begin", "end", "sent_id", "tok_begin", "tok_end",
]


def _rows(df):
    return sorted(tuple(r[c] for c in COLS) for r in df.select(*COLS).collect())


def test_detect_mentions_longest_match_and_ties(spark):
    """The trie scan's corners: longest-match-first, overlap skipping,
    per-sentence restart, and the smallest-(ent_id, ent_type)-wins tie rule
    on duplicate surfaces; empty and over-MAX_GAZ_TOKENS surfaces never
    match."""
    docs = spark.createDataFrame(
        [
            ("u1", "Adri-vax binds BRC7.\nadri alone."),
            ("u2", "adri adri vax adri"),  # overlap: scan takes adri, adri vax, adri
            ("u3", ""),
        ],
        "url string, text string",
    )
    gaz = spark.createDataFrame(
        [
            ("adri vax", "D1", "DRUG"),
            ("adri", "D2", "DRUG"),
            ("adri", "D9", "ZZZ"),  # loses the tie to (D2, DRUG)
            ("brc7", "G1", "GENE"),
            ("", "E0", "EMPTY"),  # dropped (empty surface)
            ("a b c d e", "E5", "LONG"),  # dropped (> MAX_GAZ_TOKENS)
        ],
        "surface_norm string, ent_id string, ent_type string",
    )
    got = _rows(M.detect_mentions(docs, gaz))
    by_url = {}
    for r in got:
        by_url.setdefault(r[0], []).append((r[2], r[5]))
    assert by_url["u1"] == [("D1", "adri vax"), ("G1", "brc7"), ("D2", "adri")]
    assert by_url["u2"] == [("D2", "adri"), ("D1", "adri vax"), ("D2", "adri")]
    assert "u3" not in by_url


def test_detect_mentions_normalizes_messy_dictionary_whitespace(spark):
    """A dictionary surface with a double space, tab or edge whitespace
    matches via its token-tuple key (str.split()). Tie rule: the trie
    builds from sorted(rows), so the minimum (raw surface, ent_id,
    ent_type) claims a collapsed key."""
    docs = spark.createDataFrame(
        [("u1", "acme corp hired bob smith")], "url string, text string"
    )
    gaz = spark.createDataFrame(
        [
            ("acme  corp", "E1", "ORG"),      # double space
            ("acme corp", "E2", "ORG"),       # normalized twin, larger raw
            ("bob\tsmith", "E3", "PER"),      # tab separator
            ("  acme corp  ", "E9", "ORG"),   # leading/trailing spaces
            ("\tacme corp", "E4", "ORG"),     # leading TAB (trim-proof)
            ("bob smith\t\n", "E5", "PER"),   # trailing tab+newline
        ],
        "surface_norm string, ent_id string, ent_type string",
    )
    got = _rows(M.detect_mentions(docs, gaz))
    # both entities found, under the tie rule: the minimum RAW string
    # claims the collapsed key — "\tacme corp" (tab 0x09 < space 0x20)
    # beats "  acme corp  " beats the rest -> E4; "bob\tsmith" <
    # "bob smith\t\n" (same tab-beats-space rule) -> E3
    assert [(r[2], r[5]) for r in got] == [
        ("E4", "acme corp"), ("E3", "bob smith"),
    ]
