"""Seeded benchmark inputs and their expected outputs, computed by construction.

Two build workloads, both a pure function of (workload, seed):

- crawl_build: the fixture corpus (fixtures.corpus.generate_pages) with every
  html page padded the way bench.py's kg_heavy entry pads it (navigation
  chrome and boilerplate paragraphs, ~4 KB). `text` stays NULL on html rows,
  so the frozen extractor runs; the generator's re-crawl, non-en, NULL,
  truncated, latin-1 and pre-filled-text slices are kept, as is its
  120-entity vocabulary. Expected triples: fixtures.corpus.compute_goldens.
- entity_build: light pages whose `text` is provided (resolve_text never
  calls the extractor) built from the fixture sentence templates over a large
  seeded vocabulary. Every entity has one compact form and up to three
  distinct normalized aliases (base, space-split, dash-split), and distinct
  entities are admitted only below the ER jaccard threshold, so the ER
  clusters are the alias groups by construction. Expected triples: the same
  frozen kernels compute_goldens uses, with the constructed canonical map
  in place of its quadratic jaccard scan.

Each workload also gets a curate corpus with its expected funnel
(curate_docs) and a query mix over its expected triples with DuckDB's
answers (query_mix, query_answers), used by the traced run.

Inputs are written with pyarrow (no Spark), so the program sees only files.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from collections import Counter, defaultdict
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.corpus import (
    _BASE_TS,
    _FILLER,
    PIVOT_TYPE,
    PRED_VOCAB,
    ARG_SLOTS,
    Entity,
    _filler_sentence,
    _pick,
    _render_html,
    _surface,
    compute_goldens,
    generate_pages,
    pred_rules_rows,
)
from fixtures.gen_pages import PAGES_SCHEMA
from nary_relation_extraction_decomposed_spark.extract.html import extract_text
from nary_relation_extraction_decomposed_spark.functions.text_metrics import (
    LANG_PATTERNS,
    PUNCT_RE,
    TOKEN_RE,
)
from nary_relation_extraction_decomposed_spark.functions.textnorm import (
    JACCARD_THRESHOLD,
    compact_form,
    normalize_surface,
    shingles,
)
from nary_relation_extraction_decomposed_spark.operators.kernels import (
    MAX_PATH_LEN,
    TOKEN_WINDOW,
    GazetteerIndex,
    bfs_evidence,
    detect_mentions_in_text,
    nearest_pred,
    sentence_predicates,
)
from nary_relation_extraction_decomposed_spark.operators.sampling import rate_threshold

# Bump when a generator or expectation changes: it keys the input cache.
GEN_VERSION = 4

SIZES = {
    "crawl_build": {"pages": 500, "boiler_paragraphs": 18},
    "entity_build": {"pages": 500, "entities_per_type": 500},
}

# ----------------------------------------------------------- crawl_build ----


def _boilerplate(n_paragraphs: int) -> bytes:
    """Navigation chrome and boilerplate paragraphs, the same padding as
    bench.py's kg_heavy entry (~4 KB per page at 18 paragraphs): tags the
    extractor drops, text it keeps."""
    nav = "<div class=nav><ul>" + "".join(
        f"<li><a href=/s/{i}>section {i} link text with several words</a></li>"
        for i in range(12)
    ) + "</ul></div>"
    paras = "".join(
        f"<p>Boilerplate paragraph {i}: navigation chrome, cookie banners, "
        "footer text and related-article teasers make up most bytes of a "
        "real crawled page; the extractor must scan and drop them all.</p>"
        for i in range(n_paragraphs)
    )
    return (nav + paras).encode("ascii")


def crawl_corpus(seed: int) -> dict:
    size = SIZES["crawl_build"]
    corpus = generate_pages(size["pages"], seed)
    body = b"<body>" + _boilerplate(size["boiler_paragraphs"])
    for p in corpus["pages"]:
        if p["html"] is not None:
            # truncated pages keep whatever their cut left of <body>
            p["html"] = p["html"].replace(b"<body>", body, 1)
    return corpus


# ---------------------------------------------------------- entity_build ----

_LETTERS = list("abcdefghijklmnopqrstuvwxyz")
# template and filler tokens an alias fragment must never equal
_RESERVED = set(_FILLER) | set(PRED_VOCAB) | {
    "patients", "carrying", "effect", "observed", "expression", "varies",
    "with", "in", "resistant", "cases", "this", "appears", "of", "levels",
    "were", "recorded", "was", "tested", "alone", "is", "a", "gene",
    "report", "nothing", "here", "treatment", "response", "whereas",
    "clinical",
}
# distinct entities stay this far below the ER verify threshold
_ADMIT_MARGIN = 0.1


def make_vocabulary(rng: np.random.RandomState, per_type: int) -> list[Entity]:
    """per_type entities of each of DRUG / GENE / VARIANT. Each has a unique
    compact form (random letters, 8-11 long) and aliases that normalize to
    distinct surfaces of that one compact form: the base name, a space split
    and a dash split at two different offsets (case variants ride along and
    normalize onto the base). Compact forms of distinct entities have shingle
    jaccard below JACCARD_THRESHOLD - _ADMIT_MARGIN, so ER merges exactly the
    alias groups."""
    postings: dict[str, list[int]] = defaultdict(list)
    sizes: list[int] = []
    entities: list[Entity] = []
    limit = JACCARD_THRESHOLD - _ADMIT_MARGIN
    for ent_type in ("DRUG", "GENE", "VARIANT"):
        count = 0
        attempts = 0
        while count < per_type:
            attempts += 1
            if attempts > 50 * per_type:
                raise RuntimeError("vocabulary generation did not converge")
            n = rng.randint(8, 12)
            name = "".join(_LETTERS[i] for i in rng.randint(0, 26, size=n))
            cut_a, cut_b = rng.choice(np.arange(3, n - 2), size=2, replace=False)
            lo, hi = sorted((int(cut_a), int(cut_b)))
            frags = (name[:lo], name[lo:], name[:hi], name[hi:])
            if name in _RESERVED or any(f in _RESERVED for f in frags):
                continue
            sh = set(shingles(name))
            shared = Counter(j for g in sh for j in postings[g])
            if any(k / (len(sh) + sizes[j] - k) >= limit for j, k in shared.items()):
                continue
            for g in sh:
                postings[g].append(len(sizes))
            sizes.append(len(sh))
            surfaces = (
                name.capitalize(),
                name.upper(),
                f"{name[:lo]} {name[lo:]}",
                f"{name[:hi]}-{name[hi:]}".capitalize(),
            )
            entities.append(Entity(f"{ent_type[0]}{count:05d}", ent_type, surfaces))
            count += 1
    return entities


def _entity_sentences(rng: np.random.RandomState, drugs, genes, variants) -> list[str]:
    """The fixture page templates (fixtures.corpus.generate_pages), drawn
    over the large vocabulary."""
    preds = list(PRED_VOCAB)
    sents: list[str] = []
    for _ in range(rng.randint(3, 7)):
        roll = rng.rand()
        if roll < 0.30:  # n-ary, same sentence
            d, g, v, p = _pick(rng, drugs), _pick(rng, genes), _pick(rng, variants), _pick(rng, preds)
            sents.append(
                f"{_surface(rng, d)} {p} {_surface(rng, g)} in patients carrying {_surface(rng, v)}."
            )
        elif roll < 0.38:  # multi-predicate sentence
            d, g, v = _pick(rng, drugs), _pick(rng, genes), _pick(rng, variants)
            p1, p2 = _pick(rng, preds), _pick(rng, preds)
            sents.append(
                f"{_surface(rng, g)} {p1} treatment response whereas "
                f"{_surface(rng, d)} {p2} {_surface(rng, v)} in cases."
            )
        elif roll < 0.58:  # n-ary, cross-sentence (adjacent)
            d, g, v, p = _pick(rng, drugs), _pick(rng, genes), _pick(rng, variants), _pick(rng, preds)
            sents.append(f"{_surface(rng, d)} {p} {_surface(rng, g)} in resistant cases.")
            sents.append(f"This effect appears in patients carrying {_surface(rng, v)}.")
        elif roll < 0.72:  # distractor pair (no pivot)
            g, v = _pick(rng, genes), _pick(rng, variants)
            sents.append(f"Expression of {_surface(rng, g)} varies with {_surface(rng, v)}.")
        elif roll < 0.82:  # far negative
            d, g, p = _pick(rng, drugs), _pick(rng, genes), _pick(rng, preds)
            sents.append(f"{_surface(rng, d)} {p} nothing here.")
            sents.append(_filler_sentence(rng))
            sents.append(f"Levels of {_surface(rng, g)} were recorded.")
        elif roll < 0.90:  # single entity
            sents.append(f"{_surface(rng, _pick(rng, genes))} is a gene.")
        else:
            sents.append(_filler_sentence(rng))
    return sents


def entity_corpus(seed: int) -> dict:
    size = SIZES["entity_build"]
    rng = np.random.RandomState(seed)
    entities = make_vocabulary(rng, size["entities_per_type"])
    by_type = {t: [e for e in entities if e.ent_type == t]
               for t in ("DRUG", "GENE", "VARIANT")}
    pages = []
    for i in range(size["pages"]):
        url = f"https://ents{i % 64:02d}.example.org/p/{i}"
        warc_ts = _BASE_TS + timedelta(seconds=int(rng.randint(0, 30 * 86400)))
        for k in range(2 if rng.rand() < 0.03 else 1):  # ~3% re-crawls
            html = _render_html(
                f"clinical report {i}",
                _entity_sentences(rng, by_type["DRUG"], by_type["GENE"], by_type["VARIANT"]),
                False,
            )
            pages.append({
                "url": url, "warc_ts": warc_ts + timedelta(days=40 * k),
                "html": None, "text": extract_text(html.encode("utf-8")),
                "lang": "en",
            })
    gaz = [{"surface_norm": normalize_surface(s), "ent_id": e.ent_id,
            "ent_type": e.ent_type, "snap_ts": _BASE_TS - timedelta(days=30)}
           for e in entities for s in dict.fromkeys(e.surfaces)]
    gaz = list({r["surface_norm"]: r for r in gaz}.values())
    gaz.sort(key=lambda r: r["surface_norm"])
    return {"pages": pages, "gazetteer": gaz, "pred_rules": pred_rules_rows(),
            "entities": entities}


def expected_triples_constructed(corpus: dict) -> list[tuple]:
    """compute_goldens' per-document simulation (same frozen kernels, same
    dedup and rejoin rules) with the ER step taken from construction: every
    observed surface maps to the smallest observed surface sharing its
    compact form (make_vocabulary guarantees no other merges)."""
    gaz = GazetteerIndex.build(
        [(r["surface_norm"], r["ent_id"], r["ent_type"]) for r in corpus["gazetteer"]]
    )
    rules = {(r["subrel_a"], r["subrel_b"]): (r["pred_a"], r["pred_b"])
             for r in corpus["pred_rules"]}
    survivors: dict[str, tuple] = {}
    for p in corpus["pages"]:
        if p["lang"] != "en" or (p["text"] is None and p["html"] is None):
            continue
        text = p["text"] if p["text"] is not None else extract_text(p["html"])
        key = (p["warc_ts"], len(text), text)
        if p["url"] not in survivors or key > survivors[p["url"]]:
            survivors[p["url"]] = key
    triple_urls: dict[tuple, set] = defaultdict(set)
    observed: set[str] = set()
    vocab = frozenset(PRED_VOCAB)
    for url, (_, _, text) in survivors.items():
        ments = detect_mentions_in_text(text, gaz)
        observed.update(m["surface_norm"] for m in ments)
        sents = sentence_predicates(text, vocab)
        by_mid = {m["mention_id"]: m for m in ments}
        preds_of_sent = {s["sent_id"]: (s["preds"], s["pred_toks"]) for s in sents}
        subrels = []
        for r in bfs_evidence(
            len(sents), ments, PIVOT_TYPE, list(ARG_SLOTS), MAX_PATH_LEN,
            co_mention_edges=True, token_window=TOKEN_WINDOW,
            sent_tok_counts=[s["n_tokens"] for s in sents],
        ):
            pm = by_mid[r["pivot_mid"]]
            sp = preds_of_sent.get(pm["sent_id"])
            pred = nearest_pred(sp[0], sp[1], pm["tok_begin"], pm["tok_end"]) if sp else None
            if pred is not None:
                subrels.append((r["pivot_mid"], pm["surface_norm"],
                                by_mid[r["other_mid"]]["surface_norm"], r["slot"], pred))
        for a_mid, a_piv, a_oth, a_slot, a_pred in subrels:
            if a_slot != "a":
                continue
            for b_mid, _, b_oth, b_slot, b_pred in subrels:
                if b_slot != "b" or b_mid != a_mid or b_pred != a_pred:
                    continue
                rule = rules.get((f"{a_pred}#a", f"{b_pred}#b"))
                if rule is None:
                    continue
                triple_urls[(a_piv, rule[0], a_oth)].add(url)
                triple_urls[(a_piv, rule[1], b_oth)].add(url)
    label: dict[str, str] = {}
    for s in sorted(observed):
        label.setdefault(compact_form(s), s)
    canon = {s: label[compact_form(s)] for s in observed}
    merged: dict[tuple, set] = defaultdict(set)
    for (s, p, o), urls in triple_urls.items():
        merged[(canon[s], p, canon[o])] |= urls
    return sorted((s, p, o, len(u)) for (s, p, o), u in merged.items())


# ----------------------------------------------------------------- curate ----

# The curate corpus fed to operators.curate.curate_corpus in the traced run:
# base documents of random words, each with a chance of exact copies and of
# a near-duplicate edit chain, plus quality-gate failures, over four lang
# strata with per-stratum sampling rates.
CURATE = {
    "base_docs": 600, "copy_frac": 0.15, "chain_frac": 0.15, "max_chain": 5,
    "junk_docs": 75, "min_quality": 0.5, "rates": {"de": 0.5, "fr": 0.25},
    "salt": "curate",
}
_STOPWORDS = ("the", "of", "and", "with", "for", "data")
_LANGS = ("en", "de", "fr", "es")
_QUALITY_MARGIN = 0.1


def quality_score(text: str) -> float:
    """functions.text_metrics.quality_score_col on one string."""
    low = text.lower()
    toks = len(re.findall(TOKEN_RE, low))
    punct = len(re.findall(PUNCT_RE, low))
    stop = len(re.findall(LANG_PATTERNS["en"], low))
    return (min(toks / 100.0, 1.0) * 0.5 + min(stop * 5 / max(toks, 1), 1.0) * 0.4
            + (1 - min(punct / max(toks, 1), 1.0)) * 0.1)


def _render_words(words: list[str]) -> str:
    return " ".join(w + "." * ((i + 1) % 12 == 0) for i, w in enumerate(words)) + "."


def curate_docs(rng: np.random.RandomState) -> tuple[list[dict], dict]:
    """-> (docs, expected). Distinct base documents share almost no word
    3-grams, and one chain edit replaces one word of a 60-110 word document,
    so consecutive chain members have shingle jaccard >= 0.9: the LSH
    (16 bands x 4 rows) pairs them with probability 1 - 4e-8 and verification
    keeps them, while distinct bases never pair. Each cluster (a base, its
    copies and its chain) therefore ends as its min id; the sampled
    survivors follow the md5 rule of operators.sampling."""
    cfg = CURATE
    vocab = sorted({"".join(_LETTERS[i] for i in rng.randint(0, 26, size=rng.randint(4, 10)))
                    for _ in range(5000)} - set(_STOPWORDS))
    texts: list[tuple[str, int | None]] = []  # (text, cluster) ; cluster None = junk
    for b in range(cfg["base_docs"]):
        # every 4th word is a stopword: the quality score stays >= 0.7
        words = [_STOPWORDS[rng.randint(6)] if i % 4 == 0 else vocab[rng.randint(len(vocab))]
                 for i in range(rng.randint(60, 111))]
        members = [words]
        if rng.rand() < cfg["copy_frac"]:
            members += [words] * rng.randint(1, 4)
        if rng.rand() < cfg["chain_frac"]:
            cur = words
            for _ in range(rng.randint(1, cfg["max_chain"] + 1)):
                cur = list(cur)
                pos = rng.choice([i for i in range(len(cur)) if i % 4])
                new = vocab[rng.randint(len(vocab))]
                while new == cur[pos]:
                    new = vocab[rng.randint(len(vocab))]
                cur[pos] = new
                members.append(cur)
        texts += [(_render_words(m), b) for m in members]
    for _ in range(cfg["junk_docs"]):
        junk = " ".join(rng.choice(["!!!", "???", "...", ";;", "404", "::", "0"], size=rng.randint(3, 12)))
        texts.append((junk, None))
    ids = rng.permutation(len(texts))
    docs = [{"doc_id": int(i), "text": t, "lang": _LANGS[rng.randint(4)]}
            for i, (t, _) in zip(ids, texts)]

    limit = cfg["min_quality"]
    good: list[dict] = []
    rep: dict[int, dict] = {}
    for d, (t, cluster) in zip(docs, texts):
        q = quality_score(t)
        if cluster is None:
            assert q <= limit - _QUALITY_MARGIN, (t, q)
            continue
        assert q >= limit + _QUALITY_MARGIN, (t, q)
        good.append(d)
        if cluster not in rep or d["doc_id"] < rep[cluster]["doc_id"]:
            rep[cluster] = d

    def kept(d: dict) -> bool:
        draw = hashlib.md5(f"{cfg['salt']}:{d['doc_id']}".encode()).hexdigest()[:8]
        return draw < rate_threshold(cfg["rates"].get(d["lang"], 1.0))

    expected = {
        "quality": len(good),
        "exact": len({d["text"] for d in good}),
        "neardup": len(rep),
        "sampled": sorted(d["doc_id"] for d in rep.values() if kept(d)),
    }
    return docs, expected


# --------------------------------------------------------------- kg_query ----


def query_mix(triples: list[tuple], rng: np.random.RandomState) -> list[dict]:
    """A fixed mix over a triple table: 1-hop constant lookups, 2- and 3-hop
    star patterns anchored on constant objects (with and without reorder),
    an OPTIONAL hop, and unseeded and seeded reach_pairs up to 6 hops.
    Constants are drawn from the table, so every pattern matches."""
    edges_of = defaultdict(list)
    for s, p, o, _ in triples:
        edges_of[s].append((p, o))

    def anchor():
        s, p, o, _ = triples[rng.randint(len(triples))]
        others = sorted({q for q, _ in edges_of[s]})
        return s, p, o, others

    qs = []
    for _ in range(3):
        s, p, _, _ = anchor()
        qs.append({"kind": "hop1", "pattern": [[s, p, "?o"]]})
    for reorder in (False, True):
        _, p, o, others = anchor()
        qs.append({"kind": "hop2", "reorder": reorder,
                   "pattern": [["?d", p, o], ["?d", others[rng.randint(len(others))], "?x"]]})
    for reorder in (False, True):
        s, p, o, others = anchor()
        p2, o2 = edges_of[s][rng.randint(len(edges_of[s]))]
        qs.append({"kind": "hop3", "reorder": reorder,
                   "pattern": [["?d", p, o], ["?d", p2, o2],
                               ["?d", others[rng.randint(len(others))], "?y"]]})
    _, p, o, others = anchor()
    pred_list = sorted({p for _, p, _, _ in triples})
    qs.append({"kind": "optional", "pattern": [["?d", p, o]],
               "optional": [["?d", pred_list[rng.randint(len(pred_list))], "?x"]]})
    s, p, _, _ = anchor()
    qs.append({"kind": "reach", "pred": p, "max_hops": 6, "sources": None})
    qs.append({"kind": "reach", "pred": p, "max_hops": 6, "sources": [s]})
    return qs


def _q(term: str) -> str:
    return "'" + term.replace("'", "''") + "'"


def _bgp_sql(q: dict) -> str:
    binds: dict[str, str] = {}
    froms, conds = [], []
    for i, (s, p, o) in enumerate(q["pattern"]):
        froms.append(f"t t{i}")
        conds.append(f"t{i}.pred = {_q(p)}")
        for col, term in (("subj", s), ("obj", o)):
            ref = f"t{i}.{col}"
            if not term.startswith("?"):
                conds.append(f"{ref} = {_q(term)}")
            elif term in binds:
                conds.append(f"{ref} = {binds[term]}")
            else:
                binds[term] = ref
    cols = ", ".join(f"{ref} AS {v[1:]}" for v, ref in binds.items())
    sql = f"SELECT DISTINCT {cols} FROM {', '.join(froms)} WHERE {' AND '.join(conds)}"
    for s, p, o in q.get("optional", []):
        on, new = [f"o.pred = {_q(p)}"], []
        for col, term in (("subj", s), ("obj", o)):
            if not term.startswith("?"):
                on.append(f"o.{col} = {_q(term)}")
            elif term in binds:
                on.append(f"o.{col} = r.{term[1:]}")
            else:
                new.append(f"o.{col} AS {term[1:]}")
        sql = (f"SELECT DISTINCT r.*, {', '.join(new)} FROM ({sql}) r "
               f"LEFT JOIN t o ON {' AND '.join(on)}")
    return sql


def _reach_sql(q: dict) -> str:
    seed = (f" WHERE src IN ({', '.join(_q(s) for s in q['sources'])})"
            if q["sources"] is not None else "")
    return (
        "WITH RECURSIVE e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t "
        f"WHERE pred = {_q(q['pred'])} AND subj IS NOT NULL AND obj IS NOT NULL), "
        f"r(src, dst, h) AS (SELECT src, dst, 1 FROM e{seed} UNION "
        "SELECT r.src, e.dst, r.h + 1 FROM r JOIN e ON e.src = r.dst "
        f"WHERE r.h < {q['max_hops']}) "
        "SELECT src, dst, min(h) FROM r GROUP BY src, dst"
    )


def query_answers(triples: list[tuple], queries: list[dict]) -> None:
    """Attach each query's answer rows, computed by DuckDB over the table."""
    import duckdb

    t = pa.table({c: [r[i] for r in triples]  # noqa: F841 (read by DuckDB)
                  for i, c in enumerate(("subj", "pred", "obj", "support"))})
    con = duckdb.connect()
    for q in queries:
        sql = _reach_sql(q) if q["kind"] == "reach" else _bgp_sql(q)
        q["answer"] = sorted_rows(con.execute(sql).fetchall())
    con.close()


def sorted_rows(rows) -> list[tuple]:
    """Rows as tuples in one total order (NULLs from OPTIONAL sort first)."""
    return sorted((tuple(r) for r in rows),
                  key=lambda r: tuple((x is not None, x) for x in r))


# ------------------------------------------------------------ materialise ----

GENERATORS = {
    "crawl_build": (
        crawl_corpus,
        lambda c: sorted(
            (r["subj"], r["pred"], r["obj"], r["support"])
            for r in compute_goldens(c)["golden_triples"]
        ),
    ),
    "entity_build": (entity_corpus, expected_triples_constructed),
}


def _write(rows: list[dict], path: str, schema: pa.Schema | None = None) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _sha256_tree(root: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        if name.endswith(".parquet"):
            with open(os.path.join(root, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def materialise(workload: str, seed: int, cache_root: str) -> dict:
    """Write the workload's inputs for `seed` under cache_root and return
    {dir, n_pages, expected, n_docs, curate_expected, queries, sha256}: the
    build's pages and expected triples, the curate corpus and its expected
    funnel, and the query mix over the expected triples with DuckDB's
    answers. A complete cache entry (same
    workload, seed, sizes and GEN_VERSION) is reused as is; generation and the
    expected result are both outside every timed region."""
    key = hashlib.sha256(
        json.dumps([GEN_VERSION, SIZES[workload], CURATE], sort_keys=True).encode()
    ).hexdigest()[:12]
    out = os.path.join(cache_root, f"{workload}-s{seed}-{key}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["expected"] = [tuple(r) for r in meta["expected"]]
        for q in meta["queries"]:
            q["answer"] = [tuple(r) for r in q["answer"]]
        return meta
    make_corpus, make_expected = GENERATORS[workload]
    corpus = make_corpus(seed)
    expected = make_expected(corpus)
    docs, curate_expected = curate_docs(np.random.RandomState([seed, 1]))
    queries = query_mix(expected, np.random.RandomState([seed, 2]))
    query_answers(expected, queries)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _write(corpus["pages"], os.path.join(tmp, "pages.parquet"), PAGES_SCHEMA)
    _write(corpus["gazetteer"], os.path.join(tmp, "gazetteer.parquet"))
    _write(corpus["pred_rules"], os.path.join(tmp, "pred_rules.parquet"))
    _write(docs, os.path.join(tmp, "docs.parquet"), pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string())]))
    meta = {"dir": out, "n_pages": len(corpus["pages"]), "expected": expected,
            "n_docs": len(docs), "curate_expected": curate_expected,
            "queries": queries, "sha256": _sha256_tree(tmp)}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return meta
