"""Text-function unit tests for branches the synthetic corpus never
exercises (it is punctuation-free word salad): the BPE-ish pre-tokenizer's
contraction / digit-run / punctuation-run splits, cross-checked against
DuckDB's RE2 so the t65 oracle stays honest on hostile input.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pymongraph_spark.functions.text import (
    BPE_ISH_PATTERN,
    bpe_ish_token_count,
    bpe_ish_tokens,
    token_count,
)

HOSTILE = [
    "it's a test",                      # contraction suffix
    "we'll we've I'm you're they'd",    # all contraction forms
    "foo123bar",                        # letter/digit boundary
    "hello, world!!  (parens) [x]",     # punctuation runs + double space
    "3.14159 costs $1,000.00",          # digits with punctuation
    "",                                 # empty
    "   ",                              # whitespace only
]


@pytest.fixture(scope="module")
def hostile_df(spark):
    return spark.createDataFrame([(i, s) for i, s in enumerate(HOSTILE)], "id int, text string")


def test_bpe_tokens_exact(spark, hostile_df):
    rows = {r["id"]: r["toks"] for r in hostile_df.select("id", bpe_ish_tokens("text").alias("toks")).collect()}
    assert rows[0] == ["it", "'s", " a", " test"]
    assert rows[2] == ["foo", "123", "bar"]
    assert rows[3] == ["hello", ",", " world", "!!", " (", "parens", ")", " [", "x", "]"]
    assert rows[5] == []
    assert rows[6] == []


def test_bpe_count_exceeds_ws_on_punctuation(spark, hostile_df):
    got = hostile_df.select(
        "id",
        bpe_ish_token_count("text").alias("bpe"),
        token_count("text").alias("ws"),
    ).collect()
    by_id = {r["id"]: (r["bpe"], r["ws"]) for r in got}
    # punctuation-heavy strings fragment into MORE pieces than ws tokens
    assert by_id[3][0] > by_id[3][1]
    assert by_id[4][0] > by_id[4][1]
    # contraction splits add exactly one piece each
    assert by_id[0] == (4, 3)


def test_bpe_pattern_matches_duckdb_re2(spark, hostile_df):
    """The t65 oracle escapes this pattern into DuckDB SQL; prove both
    engines tokenize hostile input identically (not just the corpus)."""
    con = duckdb.connect()
    spark_counts = {
        r["id"]: r["n"]
        for r in hostile_df.select("id", bpe_ish_token_count("text").alias("n")).collect()
    }
    sql_pat = BPE_ISH_PATTERN.replace("'", "''")
    for i, s in enumerate(HOSTILE):
        (n,) = con.execute(
            f"SELECT len(regexp_extract_all(?, '{sql_pat}'))", [s]
        ).fetchone()
        assert n == spark_counts[i], f"engine disagreement on {s!r}: duckdb {n} vs spark {spark_counts[i]}"


def test_simhash_neutral_locality(spark):
    """Identical docs → Hamming 0; one-word perturbation → small distance;
    unrelated text → large distance. (The full pipeline is oracle-gated in
    d46; this pins the locality property the fingerprint exists for.)"""
    from pymongraph_spark.operators.dedup import simhash_neutral

    base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),
            (3, base.replace("river", "ocean")),
            (4, "completely unrelated text about spark shuffle partitions and joins"),
        ],
        "doc_id: long, text: string",
    )
    sh = {r["doc_id"]: r["simhash"] for r in simhash_neutral(docs).collect()}
    ham = lambda a, b: bin(sh[a] ^ sh[b]).count("1")
    assert ham(1, 2) == 0
    assert 0 < ham(1, 3) <= 12
    assert ham(1, 4) > 12


def test_simhash_golden_values(spark):
    """Pins both SimHash families bit for bit — fingerprints and pair
    sets — on fixed texts: doc 2 is doc 1 with one token replaced, docs 3
    and 4 are unrelated. Both families share one fingerprint fold and
    one chunk join, so a change there must not move a single bit."""
    from pymongraph_spark.operators.dedup import (
        simhash,
        simhash_neutral,
        simhash_pairs,
        simhash_pairs_neutral,
    )

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
        "lima mike november oscar papa quebec romeo sierra tango uniform "
        "victor whiskey xray yankee zulu red orange yellow green blue indigo "
        "violet black white grey silver gold copper iron tin lead zinc nickel "
        "cobalt carbon oxygen hydrogen helium neon argon krypton xenon radon "
        "sodium potassium calcium magnesium"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("alpha", "omega")),
            (3, "graph engines answer neighbor queries over vertices and edges "
                "stored as columnar tables"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id: long, text: string",
    )
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(simhash(docs)) == [
        (1, -4174836612424736243),
        (2, -4174695874936380915),
        (3, 7910320486718903531),
        (4, 1649482817916862672),
    ]
    assert rows(simhash_neutral(docs)) == [
        (1, 254613246264776),
        (2, 254612172531144),
        (3, 274271147803942),
        (4, 17404159116555),
    ]
    assert rows(simhash_pairs(docs)) == [(1, 2, 1)]
    assert rows(simhash_pairs_neutral(docs)) == [(1, 2, 2)]


def test_token_jaccard_band_blocking_is_lossless(spark, sf_small):
    """The shingle-count band added to token_jaccard_pairs' join key must
    not lose qualifying pairs: compare against an unbanded brute-force
    self-join (lang blocking only) on a real corpus sample."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.functions.text import tokens, word_shingles
    from pymongraph_spark.operators.dedup import token_jaccard_pairs

    docs = load_tables(spark, sf_small)["documents"].limit(400)
    threshold = 0.8
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in token_jaccard_pairs(docs, threshold=threshold).collect()
    }

    s = docs.select(
        F.col("doc_id"), F.col("lang"), word_shingles(tokens("text"), 3).alias("sh")
    ).filter(F.size("sh") > 0)
    a = s.select(F.col("doc_id").alias("ida"), F.col("lang"), F.col("sh").alias("sa"))
    b = s.select(F.col("doc_id").alias("idb"), F.col("lang"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    want = {
        (r["ida"], r["idb"])
        for r in a.join(b, on="lang")
        .filter(F.col("ida") < F.col("idb"))
        .filter((inter / union) >= threshold)
        .collect()
    }
    assert got == want


def test_token_jaccard_prefix_bound_boundary_sizes(spark):
    """Regression for the FP prefix-length bound: with threshold 0.8 and
    |S| divisible by 5, floor((1-t)*|S|)+1 computed in doubles is one
    short of the exact |S|-ceil(t*|S|)+1, and a qualifying pair whose
    only common shingle sits at that last prefix position is dropped.
    Construction: A's 4 shingles ⊂ B's 5 (J = 4/5 = 0.8 exactly), B's
    one extra shingle globally rarest so it fills B's (buggy) 1-element
    prefix."""
    from pymongraph_spark.operators.dedup import token_jaccard_pairs

    a_text = "w1 w2 w3 w4 w5 w6"        # shingles: 4
    b_text = "w1 w2 w3 w4 w5 w6 zz"     # shingles: the same 4 + 'w5 w6 zz'
    docs = spark.createDataFrame(
        [(1, a_text, "en"), (2, b_text, "en")],
        "doc_id: long, text: string, lang: string",
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in token_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert got == {(1, 2, 0.8)}


def test_containment_prefix_filter_is_lossless(spark, sf_small):
    """containment_pairs' contained-side prefix filter + positional bound
    must not lose qualifying pairs: compare against an unfiltered
    brute-force directional self-join on a real corpus sample."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.functions.text import tokens, word_shingles
    from pymongraph_spark.operators.dedup import containment_pairs

    docs = load_tables(spark, sf_small)["documents"].limit(400)
    threshold = 0.8
    got = {
        (r["contained_id"], r["container_id"])
        for r in containment_pairs(docs, threshold=threshold).collect()
    }

    s = docs.select(
        F.col("doc_id"), F.col("lang"), word_shingles(tokens("text"), 3).alias("sh")
    ).filter(F.size("sh") > 0)
    a = s.select(F.col("doc_id").alias("ida"), F.col("lang"), F.col("sh").alias("sa"))
    b = s.select(F.col("doc_id").alias("idb"), F.col("lang"), F.col("sh").alias("sb"))
    direction = (F.size("sa") < F.size("sb")) | (
        (F.size("sa") == F.size("sb")) & (F.col("ida") < F.col("idb"))
    )
    cont = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size("sa")
    want = {
        (r["ida"], r["idb"])
        for r in a.join(b, on="lang").filter(direction).filter(cont >= threshold).collect()
    }
    assert got == want


def test_containment_catches_quote_jaccard_misses(spark):
    """The motivating asymmetry: a short doc fully contained in a long
    one has containment 1.0 but Jaccard far below threshold — the
    containment operator must emit the pair, the Jaccard one must not."""
    from pymongraph_spark.operators.dedup import containment_pairs, token_jaccard_pairs

    quote = "alpha beta gamma delta epsilon"
    page = quote + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote, "en"), (2, page, "en")],
        "doc_id: long, text: string, lang: string",
    )
    got = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in containment_pairs(docs, threshold=0.99).collect()
    }
    assert got == {(1, 2, 1.0)}
    assert token_jaccard_pairs(docs, threshold=0.8).count() == 0


def test_whitespace_class_agrees_with_duckdb_on_vertical_tab(spark):
    """Engine-default \\s regexes silently drift on vertical tab: Java's
    \\s includes \\x0B, RE2's (DuckDB) does not. The tokenizers and their
    SQL twins pin one explicit class — this test runs BOTH engines on a
    \\x0B-bearing document and requires identical tokens, token counts,
    and normalized text (the code-review finding that motivated WS)."""
    import duckdb

    from pymongraph_spark.functions.text import normalized_text, tokens
    from pymongraph_spark.queries.llm import _SQL_TOKS

    text = "alpha\x0Bbeta \t gamma\x0B\x0Bdelta"
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    srow = df.select(
        tokens("text").alias("toks"), normalized_text("text").alias("norm")
    ).collect()[0]

    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.execute("INSERT INTO t VALUES (?)", [text])
    otoks, onorm = con.execute(
        f"SELECT {_SQL_TOKS.replace('(text)', '(text)')}, "
        "trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) "
        "FROM t"
    ).fetchone()

    assert list(srow["toks"]) == list(otoks) == ["alpha", "beta", "gamma", "delta"]
    assert srow["norm"] == onorm == "alpha beta gamma delta"


def test_parse_ratio_strict_matches_importer_semantics(spark):
    """F3 must agree with the graph importer's map(int, split('/')):
    exactly two integer tokens — lax shapes ('1/2/3', '2.5/10') are NULL,
    whitespace-padded integers parse like Python int()."""
    from pymongraph_spark.functions.scalars import parse_ratio

    cases = [
        ("1/2", 0.5),
        (" 3/4 ", 0.75),
        ("1 / 2", 0.5),        # int() strips per-token whitespace
        ("0/60", 0.0),
        ("1/0", None),          # zero checker → skipped sample
        ("1/2/3", None),        # extra segment — importer raises → skip
        ("2.5/10", None),       # non-integer — importer raises → skip
        ("garbage", None),
        ("", None),
        ("-1/2", -0.5),         # int() accepts signs
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "prob: string")
    got = [r["r"] for r in df.select(parse_ratio("prob").alias("r")).collect()]
    assert got == [v for _, v in cases]


def test_perplexity_buckets_scalable_agrees(spark, sf_small):
    """The scale-path bucket assignment (broadcast percentile thresholds,
    no per-language single-task window sort) must agree with t99's exact
    ntile on ≥90% of docs, and its buckets must be internally ordered:
    within a language, every head doc scores >= every middle doc >=
    every tail doc."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.queries.llm import (
        perplexity_buckets_scalable,
        t99_perplexity_buckets,
    )

    exact = {
        r["doc_id"]: r["bucket"]
        for r in t99_perplexity_buckets(spark, sf_small).collect()
    }
    rows = perplexity_buckets_scalable(
        load_tables(spark, sf_small)["documents"]
    ).collect()
    approx = {r["doc_id"]: r["bucket"] for r in rows}
    assert set(approx) == set(exact)
    agree = sum(1 for d in exact if exact[d] == approx[d])
    assert agree / len(exact) >= 0.90, f"only {agree}/{len(exact)} agree"
    # internal ordering: per lang, min(head) >= max(middle) >= ... up to
    # threshold ties (>= uses the same boundary value on both sides)
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {}).setdefault(r["bucket"], []).append(
            r["avg_prob"]
        )
    for lang, buckets in by_lang.items():
        if "head" in buckets and "middle" in buckets:
            assert min(buckets["head"]) >= max(buckets["middle"]), lang
        if "middle" in buckets and "tail" in buckets:
            assert min(buckets["middle"]) >= max(buckets["tail"]), lang


# --------------------------------------------------------------------------
# BPE merge learning (t102): pinned against a pure-Python transliteration
# of Sennrich et al. 2016 Algorithm 1 — positional pair counts, greedy
# left-to-right non-overlapping application, (count DESC, pair ASC)
# deterministic tie-break.
# --------------------------------------------------------------------------


def _bpe_reference(word_freqs: dict, n_merges: int):
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    out = []
    for step in range(1, n_merges + 1):
        counts: dict = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))

        def apply(syms):
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            return tuple(res)

        vocab = {apply(s): f for s, f in vocab.items()}
        toks = sum(f * len(s) for s, f in vocab.items())
        out.append((step, a, b, a + b, cnt, toks))
    return out


def test_bpe_learn_merges_matches_reference(spark):
    from collections import Counter
    import re

    from pymongraph_spark.functions.text import bpe_learn_merges

    docs = [
        "the cat sat on the mat, the cat ate",
        "lower lowest low low lower newer newest new",
        "aaa aaa aa baaa",  # overlap counting + greedy application
        "The THE the 42 424 2",
        "",
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id: long, text: string")
    words = Counter(w for d in docs for w in re.findall(r"[a-z0-9]+", d.lower()))
    want = _bpe_reference(dict(words), 8)
    got = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.pair_count, r.corpus_tokens_after)
        for r in bpe_learn_merges(df, n_merges=8).orderBy("step").collect()
    ]
    assert got == want


def test_bpe_learn_merges_exhausted_vocab_stops_early(spark):
    from pymongraph_spark.functions.text import bpe_learn_merges

    df = spark.createDataFrame([(0, "ab ab ab")], "doc_id: long, text: string")
    rows = bpe_learn_merges(df, n_merges=5).orderBy("step").collect()
    # one merge (a,b) -> 'ab', then the single-symbol vocab has no pairs
    assert len(rows) == 1
    assert (rows[0].left_sym, rows[0].right_sym, rows[0].merged) == ("a", "b", "ab")
    assert rows[0].pair_count == 3 and rows[0].corpus_tokens_after == 3


def test_bpe_oracles_guarded_against_vocab_exhaustion(spark, tmp_path):
    """ADVICE r10: on a corpus with fewer than n_merges learnable merges
    the Spark trainer breaks early, but an unguarded oracle CTE chain
    still emitted n_merges rows (NULLed winners) and NULLed the t103
    replace chain. Both oracles must now agree with Spark row-for-row."""
    from pymongraph_spark.functions.text import bpe_learn_merges
    from pymongraph_spark.queries.llm import (
        _T102_MERGES,
        _t102_oracle,
        _t103_oracle,
    )

    df = spark.createDataFrame(
        [(0, "ab ab ab"), (1, "ab cd")], "doc_id: long, text: string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )

    got = bpe_learn_merges(df, n_merges=_T102_MERGES).orderBy("step").collect()
    want = con.execute(_t102_oracle() + " ORDER BY step").fetchall()
    assert [tuple(r) for r in got] == want
    assert 0 < len(got) < _T102_MERGES  # the exhaustion case is exercised

    # t103: replay the (short) learned chain over the documents
    merges = got
    rep = "regexp_replace(word, '(.)', '<$1>')"
    for m in merges:
        rep = f"replace({rep}, '<{m.left_sym}><{m.right_sym}>', '<{m.merged}>')"
    enc = F.expr(rep)
    spark_tok = (
        df.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '([a-z0-9]+)', 1)")
            ).alias("word"),
        )
        .select("doc_id", F.length("word").alias("wl"), enc.alias("e"))
        .select(
            "doc_id",
            "wl",
            F.size(F.expr("split(substring(e, 2, length(e) - 2), '><')")).alias("nt"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("wl").cast("bigint").alias("n_chars"),
            F.sum("nt").cast("bigint").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
        .collect()
    )
    want_tok = con.execute(_t103_oracle() + " ORDER BY doc_id").fetchall()
    assert [tuple(r) for r in spark_tok] == want_tok


def test_bpe_encode_doc_stats_matches_expression_chain(spark):
    """The production encoder (broadcast rank map + greedy apply inside
    mapInPandas) must be byte-identical to t103's nested-replace
    expression chain on the same learned table — the cross-check that
    lets t106 replace the chain at production merge counts."""
    import re

    from pymongraph_spark.functions.text import (
        bpe_encode_doc_stats,
        bpe_learn_merges,
    )

    docs = [
        "the cat sat on the mat, the cat ate",
        "lower lowest low low lower newer newest new",
        "aaa aaa aa baaa abab ababab",  # overlap + self-adjacent merges
        "The THE the 42 424 2",
        "",  # wordless: must emit NO row on either path
        "punct-only !!! ...",
    ]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id: long, text: string"
    )
    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe_learn_merges(df, n_merges=12).orderBy("step").collect()
    ]
    # pre-lower upstream (JVM-side) — both paths consume the same column
    dfl = df.select("doc_id", F.lower("text").alias("text"))

    rep = "regexp_replace(word, '(.)', '<$1>')"
    for l, r in merges:
        rep = f"replace({rep}, '<{l}><{r}>', '<{l}{r}>')"
    chain = (
        dfl.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(text, '([a-z0-9]+)', 1)")
            ).alias("word"),
        )
        .select("doc_id", F.length("word").alias("wl"), F.expr(rep).alias("e"))
        .select(
            "doc_id",
            "wl",
            F.size(F.expr("split(substring(e, 2, length(e) - 2), '><')")).alias("nt"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("wl").cast("bigint").alias("n_chars"),
            F.sum("nt").cast("bigint").alias("n_bpe_tokens"),
        )
    )
    got = sorted(map(tuple, bpe_encode_doc_stats(dfl, merges).collect()))
    want = sorted(map(tuple, chain.collect()))
    assert got == want
    # the wordless docs emitted no row on either path
    emitted = {t[0] for t in got}
    has_words = {i for i, d in enumerate(docs) if re.findall(r"[a-z0-9]+", d.lower())}
    assert emitted == has_words


def test_bpe_encoder_handles_production_size_rank_map(spark):
    """The t106 claim is a 32k-merge PRODUCTION vocab: ship a 32k-entry
    rank map through the broadcast + mapInPandas path (validity is not
    required just to run — greedy apply only ever consults the map) and
    assert the encode completes with sane, deterministic counts. Guards
    the broadcast-size path (≈1 MB pickled) and per-doc cost staying
    independent of table size."""
    import random
    import time

    from pymongraph_spark.functions.text import bpe_encode_doc_stats

    rng = random.Random(42)
    charset = "abcdefghijklmnopqrstuvwxyz0123456789"

    def rand_sym() -> str:
        # multi-char symbols: single chars give only 36² distinct pairs
        return "".join(rng.choice(charset) for _ in range(rng.randint(1, 4)))

    merges = [("a", "b")]
    seen = {("a", "b")}
    while len(merges) < 32768:
        pair = (rand_sym(), rand_sym())
        if pair not in seen:
            seen.add(pair)
            merges.append(pair)
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox 42 jumps over "),
            F.md5(F.col("id").cast("string")),
        ).alias("text"),
    )
    t0 = time.monotonic()
    rows = bpe_encode_doc_stats(docs, merges).collect()
    sec = time.monotonic() - t0
    assert len(rows) == 200
    for r in rows:
        assert r.n_words == 8 and 1 <= r.n_bpe_tokens <= r.n_chars
    # twice the same plan → identical counts (deterministic encode)
    again = bpe_encode_doc_stats(docs, merges).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    assert sec < 60, f"32k-merge encode took {sec:.1f}s"


def test_pii_count_and_redact(spark):
    """Known-answer PII battery + the redaction fixpoint: counting any
    kind over already-redacted text is zero, and clean text round-trips
    byte-identical."""
    from pyspark.sql import functions as F

    from pymongraph_spark.functions.text import PII_ORDER, pii_count, pii_redact

    rows = [
        ("two emails a@b.io and c.d+x@e-f.org here", 2, 0, 0, 0),
        # mixed/upper case must count and mask (ADVICE r11 — the classes
        # are [A-Za-z...]; lowercase-only patterns missed these)
        ("mail John.Doe@Example.COM and UPPER@HOST.IO now", 2, 0, 0, 0),
        ("call 555-123-4567 or 555-000-1111", 0, 2, 0, 0),
        ("from 192.168.0.1 and 10.0.0.255 but not 999.1.1.1", 0, 0, 2, 0),
        ("ssn 123-45-6789 once", 0, 0, 0, 1),
        ("clean text with numbers 12345 and dots a.b", 0, 0, 0, 0),
        # phone and ssn groupings must not cross-match
        ("555-123-4567 vs 123-45-6789", 0, 1, 0, 1),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, *_) in enumerate(rows)], "id long, t string"
    )
    got = df.select(
        "id",
        *[pii_count("t", k).alias(k) for k in PII_ORDER],
        pii_redact("t").alias("red"),
        *[pii_count(pii_redact("t"), k).alias(f"post_{k}") for k in PII_ORDER],
    ).collect()
    for r in got:
        want = rows[r.id][1:]
        assert tuple(r[k] for k in PII_ORDER) == want, (r.id, r)
        assert all(r[f"post_{k}"] == 0 for k in PII_ORDER), r
    clean = [r for r in got if sum(rows[r.id][1:]) == 0]
    assert all(r.red == rows[r.id][0] for r in clean)
    masked = {r.id: r.red for r in got}
    assert masked[0] == "two emails [EMAIL] and [EMAIL] here"
    assert masked[1] == "mail [EMAIL] and [EMAIL] now"
    assert masked[4] == "ssn [SSN] once"
