"""Text analysis chain — vectorized pandas implementations of the reference's
Elasticsearch analyzers.

Reference (declarative analyzer specs consumed by ES):
``stacmodel/src/main/resources/schema/portal_records_index_schema.json``:
- ``standard`` tokenizer + ``lowercase`` — the analyzer BM25-scored ``text``
  fields are indexed with (``title`` / ``description`` use the default
  standard analyzer: schema lines 100-111, 161-169);
- ``shingle_analyser`` (schema lines 15-31): html_strip char filter, then
  lowercase → asciifolding → remove_numbers → uuid_filter →
  non_standard_pattern_filter → et_al_stop → english_stop → length_filter
  (min 2) → token_limit (350) → shingle (2-4 grams + unigrams) → unique;
  post-processed by ``IndexerMetadataServiceImpl.java:186-193`` (strip ``_``,
  collapse spaces, drop empties);
- ``acronym_search_analyser`` (query-time synonym_graph expansion,
  schema lines 10-14, 39-43).

Everything here is pandas-vectorized (Arrow batches in Spark) — no per-row
Python in the hot path, per BASELINE.json input_hint. The same functions are
used at index time and query time, which guarantees index/query analyzer
symmetry (the reference gets this from ES's ``_analyze`` endpoint, exercised
at ``IndexerMetadataServiceImpl.java:172-195``).
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------
# Approximation of Lucene's UAX#29 "standard" tokenizer: maximal runs of
# letters/digits. Tokenization runs in Arrow C++ (RE2) over the whole
# batch — ~1.7x faster than per-row Python regex AND the exact same
# \p{L}\p{N} character classes as the DuckDB / Spark-SQL mirrors
# (regexp_extract_all(lower(text), '[\p{L}\p{N}]+')), so Spark-vs-DuckDB
# value hashes line up by construction rather than by approximation.
# TOKEN_RE is retained for scalar paths that predate the Arrow kernel;
# both are asserted equivalent on the goldens.
TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)
# SQL mirror fragment used by __spark_entry__.oracle_sql()
TOKEN_RE_SQL = r"[\p{L}\p{N}]+"
# RE2 spellings used by the Arrow kernels (same classes as TOKEN_RE_SQL)
_RE2_TOKEN = r"[\pL\pN]+"
_RE2_SPLIT = r"[^\pL\pN]+"


def _arrow_token_flat(strs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(flat tokens, per-row token counts) for a batch of strings, via one
    RE2 split in Arrow C++. Empty strings produced at row edges by the
    split are masked out; per-row counts come from one reduceat over the
    list offsets (empty rows contribute zero)."""
    arr = pa.array(strs, type=pa.string())
    sp = pc.split_pattern_regex(arr, pattern=_RE2_SPLIT)
    offs = np.asarray(sp.offsets, dtype=np.int64)
    flat = np.asarray(sp.flatten(), dtype=object)
    mask = flat != ""
    n = len(strs)
    lens = np.zeros(n, dtype=np.int64)
    nz = (offs[1:] - offs[:-1]) > 0
    idx = offs[:-1][nz]
    if len(idx):
        lens[nz] = np.add.reduceat(mask.astype(np.int64), idx)
    return flat[mask], lens

# Lucene's _english_ stop set (public, org.apache.lucene.analysis.en
# EnglishAnalyzer.ENGLISH_STOP_WORDS_SET) — referenced by the schema's
# english_stop filter ("stopwords": "_english_").
ENGLISH_STOP = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

ET_AL_STOP = frozenset({"et", "al", "et al", "et.", "al."})

UUID_RE = re.compile(
    r"[a-fA-F0-9]{8}-[a-fA-F0-9]{4}-[a-fA-F0-9]{4}-[a-fA-F0-9]{4}-[a-fA-F0-9]{12}"
)
NUMBERS_RE = re.compile(r"\b\d+\b")
NON_STANDARD_RE = re.compile(r".*[^a-zA-Z\- ].*")
HTML_RE = re.compile(r"<[^>]*>")

MAX_TOKENS = 350  # schema token_limit — ES circuit-breaker guard
SHINGLE_MIN, SHINGLE_MAX = 2, 4


def tokenize_flat(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Index analyzer in flat form: (flat lowercased tokens, per-row
    counts) — the zero-list-allocation shape the hot kernels consume."""
    low = texts.fillna("").str.lower()
    return _arrow_token_flat(low.to_numpy(dtype=object))


def tokenize_codes(texts: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Index analyzer in dictionary form: (int64 codes per occurrence,
    distinct terms object array, per-row counts). The factorize happens
    inside Arrow (``dictionary_encode``, first-appearance order — same
    contract as ``pd.factorize``), so only the DISTINCT terms are ever
    materialized as Python strings."""
    low = texts.fillna("").str.lower()
    arr = pa.array(low.to_numpy(dtype=object), type=pa.string())
    sp = pc.split_pattern_regex(arr, pattern=_RE2_SPLIT)
    offs = np.asarray(sp.offsets, dtype=np.int64)
    flat_a = sp.flatten()
    mask_a = pc.not_equal(flat_a, "")
    mask = np.asarray(mask_a)
    n = len(texts)
    lens = np.zeros(n, dtype=np.int64)
    nz = (offs[1:] - offs[:-1]) > 0
    idx = offs[:-1][nz]
    if len(idx):
        lens[nz] = np.add.reduceat(mask.astype(np.int64), idx)
    if not mask.any():
        return np.zeros(0, np.int64), np.zeros(0, object), lens
    de = pc.dictionary_encode(flat_a.filter(mask_a))
    codes = np.asarray(de.indices).astype(np.int64)
    uniq = np.asarray(de.dictionary, dtype=object)
    return codes, uniq, lens


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Index analyzer: standard-ish tokenize + lowercase.

    This is the analyzer the BM25 index is built on (reference: default
    standard analyzer on ``title``/``description`` text fields).
    Returns a Series of list[str].
    """
    flat, lens = tokenize_flat(texts)
    parts = np.split(flat, np.cumsum(lens)[:-1])
    return pd.Series([list(p) for p in parts], index=texts.index)


def tokenize_py(text: str) -> list[str]:
    """Single-string convenience wrapper (query analysis, tests) — same
    Arrow/RE2 kernel as the batch path, so query analysis is symmetric
    with index analysis by construction."""
    flat, _ = _arrow_token_flat(np.array([(text or "").lower()], dtype=object))
    return flat.tolist()


def analyze(text: str, analyzer: str = "index") -> list[str]:
    """Standalone analysis — the ``_analyze`` endpoint analogue (SURVEY Q9;
    reference call site ``IndexerMetadataServiceImpl.java:177-195``)."""
    s = pd.Series([text])
    if analyzer == "index":
        return list(tokenize_series(s).iloc[0])
    if analyzer == "suggest":
        return list(suggest_tokens_series(s).iloc[0])
    if analyzer == "english_stop":
        return [t for t in tokenize_py(text) if t not in ENGLISH_STOP]
    raise ValueError(f"unknown analyzer: {analyzer}")


# --------------------------------------------------------------------------
# Suggestion-field analyzer (shingle_analyser chain, T1-T14)
# --------------------------------------------------------------------------


def _ascii_fold(tok: str) -> str:
    return unicodedata.normalize("NFKD", tok).encode("ascii", "ignore").decode("ascii")


def _shingle_chain(text: str) -> list[str]:
    """Token-stream filters of shingle_analyser, in schema order."""
    text = HTML_RE.sub(" ", text or "")
    raw, _ = _arrow_token_flat(np.array([text], dtype=object))
    toks = [t.lower() for t in raw]
    out: list[str] = []
    for t in toks:
        t = _ascii_fold(t)
        t = NUMBERS_RE.sub("", t)
        t = UUID_RE.sub("", t)
        if NON_STANDARD_RE.fullmatch(t):
            t = ""
        if not t or t in ET_AL_STOP or t in ENGLISH_STOP:
            # stop filters remove the token from the stream entirely
            # (shingles bridge the gap with "_" in ES; we mirror the
            # post-cleanup at IndexerMetadataServiceImpl.java:186-193 which
            # strips fillers anyway, so we drop them up front)
            continue
        if len(t) < 2:
            continue
        out.append(t)
        if len(out) >= MAX_TOKENS:
            break
    return out


def _shingles(toks: list[str]) -> list[str]:
    out = list(toks)  # output_unigrams: true
    n = len(toks)
    for size in range(SHINGLE_MIN, SHINGLE_MAX + 1):
        for i in range(n - size + 1):
            out.append(" ".join(toks[i : i + size]))
    # "unique" filter: order-preserving dedupe
    return list(dict.fromkeys(out))


def suggest_tokens_py(text: str) -> list[str]:
    """Scalar reference implementation of the shingle chain (kept as the
    cross-check target for the vectorized path; tests assert equality)."""
    return _shingles(_shingle_chain(text))


def _clean_tokens_vec(uniq: pd.Series) -> np.ndarray:
    """Token-stream filters of shingle_analyser applied to the batch's
    DISTINCT tokens only (vectorized pandas str kernels; Zipfian token
    distributions make distinct ≪ occurrences). '' marks a dropped token.
    Filter order matches ``_shingle_chain`` exactly."""
    t = (
        uniq.str.normalize("NFKD")
        .str.encode("ascii", "ignore")
        .str.decode("ascii")  # asciifolding
        .str.replace(NUMBERS_RE, "", regex=True)  # remove_numbers
        .str.replace(UUID_RE, "", regex=True)  # uuid_filter
    )
    t = t.where(~t.str.fullmatch(NON_STANDARD_RE), "")  # non_standard_pattern
    stops = ET_AL_STOP | ENGLISH_STOP
    t = t.where(~t.isin(stops), "")  # et_al_stop + english_stop
    t = t.where(t.str.len() >= 2, "")  # length_filter (min 2)
    return t.to_numpy(object)


def suggest_tokens_series(texts: pd.Series) -> pd.Series:
    """Full shingle_analyser chain → unique 1-4-gram phrase set per row.

    Powers the search_suggestions field (reference golden test:
    ``IndexerServiceIT.verifyAbstractPhrases``, IT lines 509-651).

    Whole-batch vectorized (the slowest analyzer stage of round 1 was this
    chain running per row): tokens factorized once, the per-token filter
    chain runs on distinct tokens only, the 350-token cap and the 1-4-gram
    shingling are pure numpy over the flattened stream, and the
    order-preserving ``unique`` filter is one stable (row, size, pos) sort
    + duplicated() drop. Byte-identical to ``suggest_tokens_py``."""
    n = len(texts)
    empty = pd.Series([[] for _ in range(n)], index=texts.index)
    if n == 0:
        return empty
    # tokenize BEFORE lowercasing (as the scalar chain does — lowercasing
    # first can change token boundaries, e.g. 'İ'.lower() adds a combining
    # mark); the lowercase + filter chain then runs on distinct tokens only
    s = texts.fillna("").str.replace(HTML_RE, " ", regex=True)
    flat, lens = _arrow_token_flat(s.to_numpy(dtype=object))
    if lens.sum() == 0:
        return empty
    rows = np.repeat(np.arange(n, dtype=np.int64), lens)
    codes, uniq = pd.factorize(flat, sort=False)
    cleaned = _clean_tokens_vec(pd.Series(uniq, dtype=object).str.lower())[codes]
    keep = cleaned != ""
    rows, toks = rows[keep], cleaned[keep]
    # token_limit 350 per doc (position BEFORE shingling, matching the chain)
    counts = np.bincount(rows, minlength=n)
    first = np.concatenate(([0], np.cumsum(counts)[:-1]))
    pos_in_row = np.arange(len(rows), dtype=np.int64) - first[rows]
    keep = pos_in_row < MAX_TOKENS
    rows, toks, pos_in_row = rows[keep], toks[keep], pos_in_row[keep]
    m = len(rows)
    if m == 0:
        return empty
    # shingle identity as INTEGER code tuples: dedupe happens on int keys
    # and only the surviving shingles are ever materialized as strings.
    # Codes come from a second factorize over the CLEANED tokens so that
    # raw spellings that clean to the same string share one code (string-
    # faithful dedupe; tokens contain no spaces, so code tuple == string).
    codes2 = pd.factorize(pd.Series(toks, dtype=object), sort=False)[0].astype(np.int64)
    starts_parts, size_parts = [np.arange(m, dtype=np.int64)], [np.ones(m, np.int64)]
    for size in range(SHINGLE_MIN, SHINGLE_MAX + 1):
        if m < size:
            break
        e = m - size + 1
        valid = np.flatnonzero(rows[:e] == rows[size - 1 :])
        starts_parts.append(valid)
        size_parts.append(np.full(len(valid), size, np.int64))
    starts = np.concatenate(starts_parts)  # start offset of each shingle
    sizes = np.concatenate(size_parts)
    K = np.full((len(starts), 5), -1, dtype=np.int64)
    K[:, 0] = rows[starts]
    for j in range(4):
        sel = sizes > j
        K[sel, j + 1] = codes2[starts[sel] + j]
    # keep-first per (row, codes): blocks are size-major and pos-ascending,
    # so within any one row the concat order IS the scalar emission order
    surv = np.flatnonzero(~pd.DataFrame(K).duplicated().to_numpy())
    surv = surv[np.lexsort((surv, K[surv, 0]))]  # row-major, emission order
    tl = toks.tolist()  # list slicing joins ~3x faster than ndarray slices
    shingles = [
        tl[p] if s == 1 else " ".join(tl[p : p + s])
        for p, s in zip(starts[surv].tolist(), sizes[surv].tolist())
    ]
    counts = np.bincount(K[surv, 0], minlength=n)
    sh_arr = np.asarray(shingles, dtype=object) if shingles else np.zeros(0, object)
    parts = np.split(sh_arr, np.cumsum(counts)[:-1])
    return pd.Series([list(p) for p in parts], index=texts.index)


# --------------------------------------------------------------------------
# Spark UDFs (Arrow-vectorized)
# --------------------------------------------------------------------------

tokenize_udf = F.pandas_udf(tokenize_series, T.ArrayType(T.StringType()))
suggest_tokens_udf = F.pandas_udf(suggest_tokens_series, T.ArrayType(T.StringType()))


def doc_lengths(texts: pd.Series) -> pd.Series:
    """Token count per document (dl for BM25 norms) WITHOUT materializing
    token lists: one Arrow C++ RE2 count over the lowered batch equals
    len(tokenize_series(...)) by construction (same engine, same class)."""
    low = texts.fillna("").str.lower()
    counts = pc.count_substring_regex(
        pa.array(low.to_numpy(dtype=object), type=pa.string()), pattern=_RE2_TOKEN
    )
    return pd.Series(
        np.asarray(counts, dtype=np.int32), index=texts.index, dtype="int32"
    )


# --------------------------------------------------------------------------
# Term-frequency extraction (map-side combine in Python)
# --------------------------------------------------------------------------


def term_freqs_arrays(
    texts: pd.Series, with_positions: bool = False, analyzer: str = "index"
) -> dict:
    """Per-document term frequencies, vectorized over a batch of texts —
    ARRAY form (no pandas DataFrame): the index build's hot kernel calls
    this per Arrow batch, and assembling a DataFrame here cost ~25% of
    the whole kernel in block consolidation (vstack of the int64
    columns) plus an O(occurrence-groups) object array of per-group term
    strings nobody needed (guide §1.2 per-task work).

    Computes tf inside the Arrow batch so the Spark shuffle carries one
    row per distinct (doc, term) instead of one per token occurrence —
    the map-side-combine that keeps shuffle volume sane at 10^12 turns.

    Returns ``{"row": int64[G], "tcode": int64[G], "tf": int32[G],
    "dl": int32[G], "uniq_terms": object[V]
    [, "positions": int32[occ], "pos_splits": int64[G-1]]}`` where
    ``term[i] == uniq_terms[tcode[i]]`` and groups are sorted by
    (row, tcode)."""
    if analyzer == "index":
        codes, uniq_terms, lens = tokenize_codes(texts)
    else:
        tok_lists = suggest_tokens_series(texts)
        lens = tok_lists.map(len).to_numpy(dtype=np.int64)
        flat = (
            np.concatenate([np.asarray(t, dtype=object) for t in tok_lists])
            if lens.sum()
            else np.zeros(0, dtype=object)
        )
        codes, uniq_terms = pd.factorize(flat, sort=False)
        codes = codes.astype(np.int64)
        uniq_terms = np.asarray(uniq_terms, dtype=object)
    if lens.sum() == 0:
        out = {"row": np.zeros(0, np.int64), "tcode": np.zeros(0, np.int64),
               "tf": np.zeros(0, np.int32), "dl": np.zeros(0, np.int32),
               "uniq_terms": np.zeros(0, object)}
        if with_positions:
            out["positions"] = np.zeros(0, np.int32)
            out["pos_splits"] = np.zeros(0, np.int64)
        return out
    row_ids = np.repeat(np.arange(len(texts), dtype=np.int64), lens)
    # integer-key aggregation: the factorize runs inside Arrow
    # (dictionary_encode) for the index analyzer, then (row, term_code)
    # combine into one int64 key counted with np.unique — only distinct
    # terms ever exist as Python strings
    key = (row_ids << np.int64(32)) | codes
    if with_positions:
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        pos = (np.arange(lens.sum(), dtype=np.int64) - np.repeat(starts, lens)).astype(np.int32)
        order = np.argsort(key, kind="stable")  # stable: positions stay ascending
        skey, spos = key[order], pos[order]
        uk, first, counts = np.unique(skey, return_index=True, return_counts=True)
        split = np.cumsum(counts)[:-1]
        tcode = (uk & np.int64(0xFFFFFFFF)).astype(np.int64)
        rows = (uk >> np.int64(32)).astype(np.int64)
        out = {"row": rows, "tcode": tcode, "tf": counts.astype(np.int32),
               "uniq_terms": uniq_terms, "positions": spos,
               "pos_splits": split}
    else:
        uk, counts = np.unique(key, return_counts=True)
        tcode = (uk & np.int64(0xFFFFFFFF)).astype(np.int64)
        rows = (uk >> np.int64(32)).astype(np.int64)
        out = {"row": rows, "tcode": tcode, "tf": counts.astype(np.int32),
               "uniq_terms": uniq_terms}
    out["dl"] = lens[rows].astype(np.int32)
    return out


def term_freqs_batch(
    texts: pd.Series, with_positions: bool = False, analyzer: str = "index"
) -> pd.DataFrame:
    """DataFrame view of ``term_freqs_arrays`` (kept for tests/tools; the
    build kernel consumes the arrays directly). Columns: (row, term,
    tcode, tf, dl[, positions])."""
    a = term_freqs_arrays(texts, with_positions=with_positions,
                          analyzer=analyzer)
    cols = {
        "row": a["row"],
        "term": a["uniq_terms"][a["tcode"]] if len(a["tcode"])
        else np.zeros(0, object),
        "tcode": a["tcode"],
        "tf": a["tf"],
    }
    if with_positions:
        cols["positions"] = (np.split(a["positions"], a["pos_splits"])
                             if len(a["tcode"]) else [])
    g = pd.DataFrame(cols)
    g["dl"] = a["dl"]
    return g


# --------------------------------------------------------------------------
# Synonyms (acronym_search_analyser analogue)
# --------------------------------------------------------------------------


class SynonymSet:
    """Query-time synonym expansion — the reference's updatable
    ``synonym_graph`` set (schema lines 39-43), pushed by
    ``AcronymService.java:412-420`` in ``"acronym => full name"`` rule form.

    Versioned replace/read mirrors the PUT/GET endpoints (SURVEY Q10).
    """

    def __init__(self, rules: list[str] | None = None, version: int = 0):
        self.version = version
        self.mapping: dict[str, list[list[str]]] = {}
        for rule in rules or []:
            self.add_rule(rule)

    def add_rule(self, rule: str) -> None:
        if "=>" not in rule:
            return
        lhs, rhs = rule.split("=>", 1)
        for src in lhs.split(","):
            src_toks = tuple(tokenize_py(src))
            if not src_toks:
                continue
            key = " ".join(src_toks)
            expansions = [tokenize_py(alt) for alt in rhs.split(",") if alt.strip()]
            self.mapping.setdefault(key, []).extend(e for e in expansions if e)

    def replace(self, rules: list[str]) -> None:
        """Full replace (PUT synonyms) — bumps version (AcronymService:156-169)."""
        self.mapping = {}
        for r in rules:
            self.add_rule(r)
        self.version += 1

    def expand(self, tokens: list[str]) -> list[list[str]]:
        """Expand a token list: each token → [original] + flattened expansion
        terms. Multi-token expansions contribute each of their terms to the
        OR group (documented simplification of ES's synonym_graph phrase
        branches — we score expansions term-wise)."""
        out: list[list[str]] = []
        for t in tokens:
            group = [t]
            for exp in self.mapping.get(t, []):
                for w in exp:
                    if w not in group:
                        group.append(w)
            out.append(group)
        return out


def build_acronym_rules(labels: list[str], manual_rules: list[str] | None = None) -> list[str]:
    """Acronym rule construction — the 10-step pipeline of
    ``AcronymService.buildAcronymList`` (AcronymService.java:218-244):
    heuristic acronym detection (len ≤ 12, has a capital, no run of 2+
    lowercase: :328-347), rule per concept ``acronym => fullname``,
    normalize (lowercase/trim, reject ',' and '=>' in labels: :353-359),
    drop known-bad {co2, sst l2p}, strip parenthesised text, append manual
    rules, dedupe, sort.
    """
    bad = {"co2", "sst l2p"}
    rules: list[str] = []
    for label in labels:
        label = re.sub(r"\([^)]*\)", "", label or "").strip()
        if "(" in (label or ""):
            continue
        m = re.match(r"^(.*?)\s*-\s*(.*)$", label) if " - " in label else None
        # labels of the form "ACRONYM - Full Name" or "Full Name (ACR)"
        cand_pairs: list[tuple[str, str]] = []
        if m:
            cand_pairs = [(m.group(1), m.group(2)), (m.group(2), m.group(1))]
        for acr, full in cand_pairs:
            acr_s, full_s = acr.strip(), full.strip()
            if not acr_s or not full_s:
                continue
            if len(acr_s) <= 12 and re.search(r"[A-Z]", acr_s) and not re.search(
                r"[a-z]{2}", acr_s
            ):
                a, f = acr_s.lower().strip(), full_s.lower().strip()
                if "," in a or "=>" in a or "," in f or "=>" in f or a in bad:
                    continue
                rules.append(f"{a} => {f}")
    rules.extend(manual_rules or [])
    return sorted(dict.fromkeys(rules))
