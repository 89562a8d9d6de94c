"""Text-analysis operators: language-ID, quality scoring, token counts,
document fingerprints.  All built-in JVM expressions (no UDFs)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fastparquet_spark.analytics.relational import load

# tiny per-language marker sets (n-gram heuristic stand-in; the corpus is
# synthetic word soup, so prediction quality is irrelevant — determinism
# and cross-engine parity are what's tested)
LANG_MARKERS = {
    "en": ("the", "a", "value", "fast"),
    "es": ("row", "data", "slow"),
    "de": ("table", "scan", "hash"),
    "fr": ("query", "merge", "sort"),
    "zh": ("window", "batch", "spark"),
}


_KEEP_CHARS = ("abcdefghijklmnopqrstuvwxyz"
               "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ")


def _words(col="text"):
    """Shared tokenizer — MUST stay in lockstep with registry._WORDS_SQL
    (the DuckDB mirror); dedup.py imports this same helper so shingles
    and text operators can never tokenize differently.

    The punctuation scrub is guarded by a regex-free clean check:
    ``translate`` deletes every kept char, and an empty remainder means
    ``regexp_replace`` would be the identity, so it is skipped.  Rows
    with ANY other character (punctuation, unicode, anything) take the
    original regexp path — the guard only ever skips a provable no-op,
    so tokenization is identical for every input.  Measured at sf1.0:
    Java's regexp_replace costs ~2.2s across the corpus even when
    nothing matches (per-row Matcher + StringBuffer rebuild); the
    translate scan is ~0.3s (guide §1.2 step 2, per-task work)."""
    scrubbed = F.when(
        F.length(F.translate(F.col(col), _KEEP_CHARS, "")) == 0, F.col(col)
    ).otherwise(F.regexp_replace(F.col(col), "[^a-zA-Z0-9 ]", " "))
    return F.split(F.trim(F.lower(scrubbed)), " +")


def text_langid(spark, sf_dir):
    """Marker-word language ID: argmax over per-language marker counts,
    ties broken by language name (deterministic)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_words()).alias("w"))
    scores = toks.groupBy("doc_id").agg(*[
        F.sum(F.when(F.col("w").isin(*marks), 1).otherwise(0)).cast("long").alias(f"s_{lang}")
        for lang, marks in sorted(LANG_MARKERS.items())])
    stacked = scores.select("doc_id", F.explode(F.map_from_arrays(
        F.array(*[F.lit(lang) for lang in sorted(LANG_MARKERS)]),
        F.array(*[F.col(f"s_{lang}") for lang in sorted(LANG_MARKERS)]),
    )).alias("pred_lang", "score"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "pred_lang")
    return (stacked.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("doc_id", "pred_lang", "score"))


def text_quality(spark, sf_dir):
    """Quality scoring: char length, word count, mean word length,
    stopword ratio, all-caps ratio -> composite score."""
    docs = load(spark, sf_dir, "documents")
    stop = ("the", "a", "of", "and", "to")
    # tokenize ONCE into a materialized column: n_words and n_stop both
    # consume it, and Catalyst will not inline a non-trivial alias that
    # is referenced more than once — without this the regex tokenizer
    # ran twice per row (guide §1.2 step 2: per-task work)
    d = (docs.select("doc_id", F.length("text").alias("n_chars2"),
                     _words().alias("w"))
         .withColumn("n_words", F.size("w"))
         .withColumn("n_stop",
                     F.size(F.filter("w", lambda x: x.isin(*stop)))))
    return d.select(
        "doc_id", "n_chars2", "n_words",
        F.round(F.col("n_chars2") / F.col("n_words"), 6).alias("mean_wlen"),
        F.round(F.col("n_stop") / F.col("n_words"), 6).alias("stop_ratio"),
        F.round(
            F.least(F.col("n_words") / F.lit(100.0), F.lit(1.0)) * 0.5
            + (1 - F.col("n_stop") / F.col("n_words")) * 0.5, 6).alias("quality"))


def text_token_count(spark, sf_dir):
    """Token counting: whitespace words + a BPE-ish subword estimate
    (chars/4 heuristic, the common LLM rule of thumb)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_words()).alias("ws_tokens"),
        F.ceil(F.length("text") / 4).cast("long").alias("bpe_est"))


def text_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (rolling-hash stand-in usable as a dedup/shard key at scale).

    The md5 is computed ONCE in an inner projection and the shard key is
    derived from the materialized column — interpreted-mode fallbacks
    don't do subexpression elimination, so repeating the expression would
    normalize+hash every document twice."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    fp = docs.select("doc_id", F.md5(norm.cast("binary")).alias("fp"))
    return fp.select("doc_id", "fp", F.substring("fp", 1, 4).alias("shard"))


def text_sample_stratified(spark, sf_dir, fractions: dict | None = None,
                           seed: str = "s42"):
    """Deterministic STRATIFIED sampling — corpus downsampling with
    per-language rates (the standard mixture-reweighting step before
    training).  Membership is a pure hash threshold:
    ``md5(seed || doc_id) < rate`` on the first 8 hex chars — so the
    sample is reproducible on any engine, stable under repartitioning,
    and needs NO shuffle (a map-side filter; Spark's sampleBy is
    seed-RNG-based and engine-specific, useless for an oracle).  At
    100 TB this is the only sampling shape that works: no global state,
    no count pass, rate changes re-derive membership for free."""
    docs = load(spark, sf_dir, "documents")
    fractions = fractions or {"en": 0.5, "de": 0.25, "fr": 0.25,
                              "es": 1.0, "zh": 0.1}
    # threshold on the first 8 hex chars as a uint32 fraction
    h = F.conv(F.substring(F.md5(F.concat(F.lit(seed),
                                          F.col("doc_id").cast("string"))
                                 .cast("binary")), 1, 8), 16, 10).cast("double")
    frac = h / F.lit(float(0xFFFFFFFF))
    rate = F.coalesce(*[F.when(F.col("lang") == lang, F.lit(r))
                        for lang, r in sorted(fractions.items())],
                      F.lit(0.0))
    return (docs.filter(frac < rate)
            .select("doc_id", "lang", F.round(frac, 6).alias("u")))


def text_chunk_tokens(spark, sf_dir, chunk_words: int = 40):
    """Fixed-token-window CHUNKING: split each document's word stream
    into consecutive ``chunk_words``-word windows (the pre-tokenizer
    packing step of a training pipeline).  Pure map-side explode of a
    higher-order sequence expression — no shuffle, no UDF; output rows
    carry (doc_id, chunk_id, chunk_text, n_words)."""
    docs = load(spark, sf_dir, "documents")
    w = _words()
    d = docs.select("doc_id", w.alias("w"))
    # guard size(w) < 1 (null text -> size() = -1): Spark's sequence()
    # REVERSES when stop < start, yielding phantom chunk_ids [0, -1]
    # where DuckDB's generate_series is empty — emit no chunks instead
    chunks = d.select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(w) >= 1 THEN "
            f"transform(sequence(0, cast(ceil(size(w) / {chunk_words}.0) "
            f"as int) - 1), i -> struct(i AS chunk_id, "
            f"concat_ws(' ', slice(w, i * {chunk_words} + 1, {chunk_words}))"
            f" AS chunk_text)) ELSE "
            f"array() END")).alias("c"))
    out = chunks.select("doc_id", "c.chunk_id", "c.chunk_text")
    return out.withColumn(
        "n_words", F.size(F.split(F.col("chunk_text"), " ")))


def text_redact_pii(spark, sf_dir):
    """Regex PII redaction (emails, long digit runs) — the scrubbing
    map every corpus pipeline runs before training.  Pure
    regexp_replace (JVM expression); the output is the redacted text's
    hash + per-document redaction counts so the gate checks the
    REPLACEMENT semantics exactly without hauling full texts through
    the compare.

    The synthetic corpus contains no PII, so the operator is exercised
    on text AUGMENTED deterministically from the table's own columns
    (an email + a digit run derived from doc_id) — identical
    construction on both engines; a vacuous all-zero-count gate proves
    nothing (the r4 ngram-jaccard lesson)."""
    docs = load(spark, sf_dir, "documents")
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    digits = r"[0-9]{6,}"
    aug = F.concat(F.col("text"), F.lit(" contact user"),
                   F.col("doc_id").cast("string"),
                   F.lit("@mail.example.org ref "),
                   (F.col("doc_id") + 1000000).cast("string"))
    red = (docs
           .withColumn("t1", F.regexp_replace(aug, email, "<EMAIL>"))
           .withColumn("t2", F.regexp_replace("t1", digits, "<NUM>"))
           .withColumn("n_email", F.size(F.split(F.col("t1"), "<EMAIL>",
                                                 -1)) - 1)
           .withColumn("n_num", F.size(F.split(F.col("t2"), "<NUM>",
                                               -1)) - 1))
    return red.select(
        "doc_id",
        F.md5(F.col("t2").cast("binary")).alias("redacted_md5"),
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_num").cast("long").alias("n_num"))


def text_contamination(spark, sf_dir, bench_max_doc: int = 50):
    """Benchmark-contamination detection: corpus documents sharing any
    word-shingle with a benchmark set (docs ``doc_id < bench_max_doc``
    stand in for the eval set) are flagged with their overlap count —
    the decontamination pass every training-corpus pipeline runs
    before release.

    Scale shape: the benchmark shingle set is SMALL by construction
    (eval suites are thousands of docs, the corpus is billions), so
    the membership join broadcasts it and runs FIRST, over the
    non-deduplicated corpus shingles — the corpus stays map-side end
    to end and only the MATCHED shingles reach a shuffle (the
    count_distinct groupBy), never the full corpus.  (A corpus-wide
    distinct() before the join would shuffle every (doc, shingle)
    pair; count_distinct after the broadcast filter gives the same
    answer for shuffle volume proportional to contamination, not
    corpus size.)"""
    from fastparquet_spark.analytics.dedup import _shingles_df, shingles_of

    bench = (shingles_of(load(spark, sf_dir, "documents")
                         .filter(F.col("doc_id") < bench_max_doc),
                         distinct=False)
             .select("sh").distinct())
    corpus = _shingles_df(spark, sf_dir,
                          distinct=False).filter(F.col("doc_id") >= bench_max_doc)
    return (corpus.join(F.broadcast(bench), "sh")
            .groupBy("doc_id")
            .agg(F.count_distinct("sh").alias("n_shared")))


def text_pack_sequences(spark, sf_dir, capacity: int = 256,
                        shard_docs: int = 1000):
    """Sequence packing: assign documents to fixed-token-capacity
    training bins, FIFO in doc_id order within (lang, shard) — the
    deterministic spelling of the packing step that turns a document
    corpus into fixed-length training sequences.

    ``bin`` = exclusive-prefix-sum of token counts (whitespace
    tokenizer, shared with text_token_count) integer-divided by
    ``capacity``.  Sharding by ``doc_id // shard_docs`` bounds every
    window partition (a real pipeline packs within shards; a single
    per-lang running sum would serialize the corpus), so the window is
    parallel across (lang, shard) and each partition is ~shard_docs
    rows regardless of corpus size."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.size(_words()).alias("n_tokens"),
        # integer `div`, NOT double-divide-then-cast: Spark's cast
        # truncates where DuckDB's // floors (negatives diverge), and
        # double quotients lose exactness past 2^52
        F.expr(f"doc_id div {shard_docs}").alias("shard"))
    w = (Window.partitionBy("lang", "shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    packed = toks.withColumn(
        "bin", F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
                       / capacity).cast("long"))
    return packed.select("doc_id", "lang",
                         F.col("n_tokens").cast("int").alias("n_tokens"),
                         "shard", "bin")
