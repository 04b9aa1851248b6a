"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

Pure Catalyst expressions (JVM-side) throughout.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dedup import tokens

# tiny deterministic marker-word lists per language (self-authored)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "und", "die", "ist"),
    "fr": ("le", "et", "la", "est"),
    "es": ("el", "y", "la", "es"),
    "pt": ("o", "e", "a", "em"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` exactly once and feed it to ``fn``: the value
    is bound through a one-element transform lambda, so Catalyst sees
    a single subtree no matter how many times the lambda body uses it
    (higher-order-function lambdas are interpreted and get no codegen
    subexpression elimination — same trick as dedup.minhash_signature)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


_LANGS = tuple(sorted(LANG_MARKERS))  # de, en, es, fr, pt


def _increment_map() -> Column:
    """Constant token -> increment-vector map literal.  Slot layout:
    one marker-count slot per language (code order) then the stopword
    slot; words shared between lists (e.g. 'la' fr+es, 'the' en+stop)
    carry increments in every slot they belong to."""
    nslots = len(_LANGS) + 1
    inc: dict[str, list[int]] = {}
    for i, lang in enumerate(_LANGS):
        for w in LANG_MARKERS[lang]:
            inc.setdefault(w, [0] * nslots)[i] += 1
    for w in STOPWORDS:
        inc.setdefault(w, [0] * nslots)[nslots - 1] += 1
    pairs = []
    for w in sorted(inc):
        pairs.append(F.lit(w))
        pairs.append(F.array(*[F.lit(x) for x in inc[w]]))
    return F.create_map(*pairs)


def marker_fold(toks: Column) -> Column:
    """ONE traversal of the token array accumulating every
    language-marker count, the stopword count and the total token
    length: returns array<int> [c_de, c_en, c_es, c_fr, c_pt, c_stop,
    total_len].  Replaces the per-marker-word F.filter passes (20
    marker + 7 stopword traversals per row) with a single aggregate
    over a constant token->increments map (VERDICT r03 ask #6)."""
    m = _increment_map()
    nslots = len(_LANGS) + 1
    zeros = F.array(*[F.lit(0)] * nslots)
    init = F.array(*[F.lit(0)] * (nslots + 1))
    return F.aggregate(
        toks, init,
        lambda acc, t: F.zip_with(
            acc,
            F.concat(F.coalesce(F.element_at(m, t), zeros),
                     F.array(F.length(t))),
            lambda a, b: a + b))


# --- hot-path cost model (measured r05, sf0.1/local[32], steal 0%) ----
# Higher-order functions (filter/aggregate/transform lambdas) are
# CodegenFallback in Spark: they run interpreted AND get no codegen
# common-subexpression elimination.  The dominant cost is therefore
# RE-EVALUATION: an argmax when-chain that embeds each count expression
# in later conditions re-evaluates the interpreted filter subtrees up
# to 2^k times.  Fix: compute every count in ONE struct/array, pin it
# through _bind (a one-element transform), and derive outputs from the
# bound value — never duplicate an interpreted subtree.
# Head-to-head best-of-5 (5000 docs, noise floor 0.29 s):
#   lang_guess:    fold+bind 0.445 s | per-word filters in when-chain
#                  2.110 s | regexp space-doubled 1.853 s
#   text_quality:  stop-map fold+bind 0.362 s | filters+bind 0.606 s |
#                  full marker_fold+bind 0.969 s | unbound filters
#                  1.153 s (r04-shipped regexp was 1.4-1.6 s here)

def lang_guess(text: Column) -> Column:
    """argmax over marker counts; tie-break by language code order
    ('und' when no markers hit).  All five counts come from ONE
    marker_fold traversal bound once; the when-chain then compares
    cheap element_at slots instead of re-evaluating count subtrees."""
    def pick(f: Column) -> Column:
        best = F.lit("und")
        best_n = F.lit(0)
        for i, lang in enumerate(_LANGS):  # later wins only on strict >
            n = F.element_at(f, i + 1)
            take = n > best_n
            best = F.when(take, F.lit(lang)).otherwise(best)
            best_n = F.when(take, n).otherwise(best_n)
        return best

    return _bind(marker_fold(tokens(text)), pick)


def _stop_map() -> Column:
    return F.create_map(*[x for wd in sorted(STOPWORDS)
                          for x in (F.lit(wd), F.lit(1))])


def _quality_parts_struct(text: Column) -> Column:
    """struct(n, stop, tl): token count, stopword count, total token
    length — ONE stop-map fold; total length is the codegen
    length-minus-delimiters scan (tokens() splits on single spaces, so
    empty tokens contribute 0)."""
    w = tokens(text)
    stop = F.aggregate(w, F.lit(0), lambda acc, t: acc + F.coalesce(
        F.element_at(_stop_map(), t), F.lit(0)))
    return F.struct(
        F.size(w).alias("n"), stop.alias("stop"),
        F.length(F.regexp_replace(text, " ", "")).alias("tl"))


def _derive_quality(s: Column) -> Column:
    """(n_tokens, stop_ratio, quality) from a BOUND (n, stop, tl)
    struct — only cheap field accesses are duplicated here."""
    n = s["n"].cast("double")
    stop = s["stop"].cast("double")
    tl = s["tl"].cast("double") / n
    s1 = F.least(n / F.lit(100.0), F.lit(1.0))
    s2 = F.least(stop / n * F.lit(5.0), F.lit(1.0))
    s3 = (F.when((tl >= 3.0) & (tl <= 8.0), F.lit(1.0))
          .otherwise(F.lit(0.0)))
    return F.struct(
        s["n"].alias("n_tokens"),
        (stop / n).alias("stop_ratio"),
        (F.lit(0.4) * s1 + F.lit(0.4) * s2 + F.lit(0.2) * s3)
        .alias("quality"))


def quality_stats(text: Column) -> Column:
    """(n_tokens, stop_ratio, quality) as ONE struct from one bound
    stop-map fold (cost model above: 0.362 s vs 1.15 s unbound)."""
    return _bind(_quality_parts_struct(text), _derive_quality)


def lang_profile(text: Column) -> Column:
    """Full one-pass language profile: per-language marker counts, the
    stopword count, total token length AND the argmax guess, all
    derived from a SINGLE marker_fold traversal of the token array
    (bound once through _bind — the fold is never re-evaluated per
    output field)."""
    def derive(f: Column) -> Column:
        fields = [F.element_at(f, i + 1).alias(f"c_{lang}")
                  for i, lang in enumerate(_LANGS)]
        fields.append(F.element_at(f, len(_LANGS) + 1).alias("n_stop"))
        fields.append(F.element_at(f, len(_LANGS) + 2).alias("total_len"))
        best = F.lit("und")
        best_n = F.lit(0)
        for i, lang in enumerate(_LANGS):  # later wins only on strict >
            n = F.element_at(f, i + 1)
            take = n > best_n
            best = F.when(take, F.lit(lang)).otherwise(best)
            best_n = F.when(take, n).otherwise(best_n)
        fields.append(best.alias("lang_guess"))
        return F.struct(*fields)

    return _bind(marker_fold(tokens(text)), derive)


def fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: md5 of the normalized
    (whitespace-collapsed, lowercased) text."""
    norm = F.lower(F.regexp_replace(F.trim(text), "\\s+", " "))
    return F.md5(norm)


# BPE-ish subword pre-tokenizer: the GPT-2-style split regex reduced
# to what Spark/DuckDB regex engines share — contractions, letter
# runs, digit runs, punctuation runs (each with optional leading
# space), and whitespace runs.
BPE_RE = "'[a-z]+|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+| +"


def bpe_token_count(text: Column) -> Column:
    """Number of BPE-ish pre-tokens: regexp_count over the shared
    pattern minus pure-space runs (JVM-side, codegen)."""
    total = F.size(F.regexp_extract_all(text, F.lit(BPE_RE), 0))
    spaces = F.size(F.regexp_extract_all(text, F.lit(" +"), 0))
    return total - spaces


# Rolling (Rabin-Karp) fingerprint: polynomial hash of the token
# stream, acc = (acc*B + h_i) mod M with the Mersenne prime M=2^31-1
# and B < 2^20 so acc*B + h < 2^52 — no 64-bit overflow in either
# engine (DuckDB raises on BIGINT overflow rather than wrapping).
RH_MOD = 2147483647  # 2^31 - 1
RH_BASE = 1000003


def rolling_fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: fold per-token md5-derived
    hashes with the Rabin-Karp recurrence.  Unlike the normalized-md5
    fingerprint this is streamable/rolling: a window's hash updates
    incrementally at 100 TB scan scale."""
    from .dedup import _h60, tokens as _tokens

    toks = _tokens(text)
    hs = F.transform(toks, lambda t: _h60(t) % F.lit(RH_MOD))
    return F.aggregate(
        hs, F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(RH_BASE) + h) % F.lit(RH_MOD))


_TRACKING = "(utm_[A-Za-z]+|gclid|fbclid|msclkid|ref_src)"


def canonical_url(url: Column) -> Column:
    """Canonicalize a URL for dedup: strip the fragment, lowercase
    scheme and host, drop the default port (:80 http / :443 https),
    remove tracking query parameters (utm_*, gclid, fbclid, msclkid,
    ref_src), and drop an empty trailing '?'.

    Pure Catalyst; every regex is RE2-compatible (no lookaround, no
    backreference in replacements) so the DuckDB oracle can run the
    SAME patterns."""
    u = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    rest = F.regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    hostport = F.when(scheme == "http",
                      F.regexp_replace(hostport, ":80$", "")) \
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", "")) \
        .otherwise(hostport)
    rest = F.regexp_replace(rest, "&" + _TRACKING + "=[^&]*", "")
    rest = F.regexp_replace(rest, "\\?" + _TRACKING + "=[^&]*&", "?")
    rest = F.regexp_replace(rest, "\\?" + _TRACKING + "=[^&]*$", "")
    rest = F.regexp_replace(rest, "\\?$", "")
    return F.when(scheme == "", url).otherwise(
        F.concat(scheme, F.lit("://"), hostport, rest))


def repetition_signals(docs) -> "DataFrame":
    """Gopher-style repetition quality signals per document (Rae et
    al. 2021 §A1.1 'repetition removal', re-expressed over whitespace
    tokens): type-token ratio, fraction of tokens covered by the most
    frequent 2-gram / 3-gram, and fraction of tokens inside duplicated
    2-grams.  n-gram counting is explode + groupBy(doc_id, gram) —
    map-side combinable, shuffle key well-distributed at web scale
    (doc_id × gram), no per-row Python."""
    d = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    base = d.select("doc_id", F.size("toks").alias("n_tokens"),
                    F.size(F.array_distinct("toks")).alias("n_distinct"))
    bg = d.select("doc_id", F.explode(F.expr(
        "transform(slice(toks, 1, greatest(size(toks)-1, 0)),"
        " (x, i) -> concat(x, ' ', element_at(toks, i + 2)))")).alias("g"))
    g2 = (bg.groupBy("doc_id", "g").count()
            .groupBy("doc_id")
            .agg(F.max("count").alias("top2"),
                 F.coalesce(
                     F.sum(F.when(F.col("count") > 1, F.col("count"))),
                     F.lit(0)).alias("dup2")))
    tg = d.select("doc_id", F.explode(F.expr(
        "transform(slice(toks, 1, greatest(size(toks)-2, 0)),"
        " (x, i) -> concat(x, ' ', element_at(toks, i + 2), ' ',"
        " element_at(toks, i + 3)))")).alias("g"))
    g3 = (tg.groupBy("doc_id", "g").count()
            .groupBy("doc_id").agg(F.max("count").alias("top3")))
    n = F.col("n_tokens").cast("double")
    return (base.join(g2, "doc_id", "left").join(g3, "doc_id", "left")
            .select(
                "doc_id", "n_tokens",
                (F.round(F.col("n_distinct").cast("double") / n, 6) + 0.0)
                .alias("distinct_ratio"),
                (F.round(F.coalesce(F.col("top2"), F.lit(0)).cast("double")
                         * 2.0 / n, 6) + 0.0).alias("top_2gram_frac"),
                (F.round(F.coalesce(F.col("dup2"), F.lit(0)).cast("double")
                         * 2.0 / n, 6) + 0.0).alias("dup_2gram_frac"),
                (F.round(F.coalesce(F.col("top3"), F.lit(0)).cast("double")
                         * 3.0 / n, 6) + 0.0).alias("top_3gram_frac")))


BM25_K1, BM25_B = 1.2, 0.75  # term-frequency saturation, length norm


def bm25_scores(docs, terms: tuple[str, ...]) -> "DataFrame":
    """Okapi BM25 score of every document against a fixed term set
    (Robertson et al.; the Lucene idf variant
    ln(1 + (N - df + 0.5)/(df + 0.5))).  Corpus statistics (N, avgdl,
    per-term df) are a one-row aggregate cross-joined back broadcast —
    no driver-side collect, so the plan is a single scan + tiny
    broadcast at any corpus size."""
    from pyspark.sql import functions as F

    d = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    d = d.withColumn("dl", F.size("toks").cast("double"))
    stats_aggs = [F.count(F.lit(1)).cast("double").alias("n_docs"),
                  F.avg("dl").alias("avgdl")]
    for j, t in enumerate(terms):
        stats_aggs.append(
            F.sum(F.array_contains("toks", t).cast("double"))
            .alias(f"df_{j}"))
    stats = d.agg(*stats_aggs)
    scored = d.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for j, t in enumerate(terms):
        # bind tf through a one-element transform so the token-array
        # filter is evaluated ONCE per term even though the BM25
        # formula uses tf in both numerator and denominator (higher-
        # order lambdas get no codegen CSE; VERDICT r03 ask #10)
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col(f"df_{j}") + 0.5)
                    / (F.col(f"df_{j}") + 0.5))

        def term_score(idf):
            # single-arg lambda: a 2-arg lambda would make transform
            # pass the array INDEX as the second argument
            return lambda tf: idf * tf * (BM25_K1 + 1.0) / (
                tf + BM25_K1 * (1.0 - BM25_B
                                + BM25_B * F.col("dl") / F.col("avgdl")))

        score = score + _bind(
            F.size(F.filter("toks", lambda x: x == F.lit(t)))
            .cast("double"), term_score(idf))
    return scored.select("doc_id", score.alias("bm25"))
