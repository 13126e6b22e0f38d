"""Text analysis operators for large-scale training-data pipelines.

All operators are pure Catalyst expressions (no Python UDFs): language
ID, quality scoring, token counting, and document fingerprinting run
inside whole-stage codegen, so a 100 TB documents table is one scan +
one projection — no shuffle, no Python worker round-trips.

Portability: everything here has an exact DuckDB-SQL equivalent (used
by the oracle checks); ratios are rounded to fixed decimals computed
from integer counts, so the comparison is deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small per-language function-word lists for the n-gram/stopword-hit
# language heuristic. Deterministic, tiny, broadcast as literals.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"],
    "es": ["el", "la", "los", "las", "y", "de", "un", "una", "es", "para"],
}

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

PUNCT_RE = r"[^.,!?;:]"


def tokens(text_col: str | Column) -> Column:
    """Whitespace tokens (documents are single-space normalized)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def _hits(text_col: str, words: list[str]) -> Column:
    """Count of tokens present in a word list — a higher-order filter,
    evaluated JVM-side."""
    lit_set = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter(split({text_col}, ' '), t -> t IN ({lit_set})))")


def text_metrics(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Quality-scoring metrics: token/char counts, average token length,
    stopword ratio, punctuation ratio (integer-exact, ratio rounded)."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    n_stop = _hits(text_col, LANG_STOPWORDS["en"])
    # stripping non-punct leaves only the punctuation characters
    n_punct = F.length(F.regexp_replace(F.col(text_col), PUNCT_RE, ""))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        # try_divide: an empty document has n_chars = 0, and a plain `/`
        # under Spark 4's default ANSI mode would crash the whole scan
        # on that one poison row; NULL matches DuckDB's 0/0 for the oracle
        F.round(F.try_divide((n_chars - n_tokens + 1).cast("double"),
                             n_tokens), 6).alias("avg_token_len"),
        F.round(F.try_divide(n_stop.cast("double"), n_tokens), 6)
         .alias("stopword_ratio"),
        F.round(F.try_divide(n_punct.cast("double"), n_chars), 6)
         .alias("punct_ratio"),
    )


def token_count_bpe(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token count under the BPE-ish regex pre-tokenizer."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)).alias("bpe_tokens"),
    )


def _lang_argmax(hit_of: dict[str, Column]) -> Column:
    """Argmax over per-language hit expressions, earlier language wins
    ties — shared by language_id and the curation composition."""
    names = list(hit_of)
    pred_expr = None
    for i, name in enumerate(names[:-1]):
        cond = None
        for other in names[i + 1:]:
            c = hit_of[name] >= hit_of[other]
            cond = c if cond is None else (cond & c)
        pred_expr = F.when(cond, name) if pred_expr is None else pred_expr.when(cond, name)
    return pred_expr.otherwise(names[-1])


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                langs: dict[str, list[str]] | None = None) -> DataFrame:
    """Stopword-hit language heuristic: argmax of per-language function-
    word hits, ties broken by language order. One projection, no shuffle."""
    langs = langs or LANG_STOPWORDS
    names = list(langs)
    hit_cols = {name: _hits(text_col, words) for name, words in langs.items()}
    out = df.select(F.col(id_col), *[hit_cols[n].alias(f"hits_{n}") for n in names])
    return out.withColumn("predicted_lang", _lang_argmax(
        {n: F.col(f"hits_{n}") for n in names}))


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text — the exact-dedup key."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))


def curate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_tokens: int = 20,
    max_tokens: int = 90,
    min_stopword_ratio: float = 0.03,
    max_punct_ratio: float = 0.2,
) -> DataFrame:
    """The composed keep/drop decision for a training corpus — exact
    dedup, then language and quality gates, in one plan:

    1. canonical selection: one groupBy on the content fingerprint picks
       min(doc_id) per duplicate group; the join back is on
       (fingerprint, id), so the dedup cost is one shuffle of the
       fingerprint projection, not the text.
    2. language gate: stopword-hit argmax == ``lang`` (projection).
    3. quality gates: token count in [min,max], stopword ratio above
       the natural-language floor, punctuation ratio below the
       boilerplate ceiling (all projections).

    Returns kept docs with the admitting signals. Because stages 2-3
    are pure column expressions (one shared projection, no joins),
    Catalyst fuses the whole curation into scan -> fingerprint shuffle
    -> filter — the minimum any content-dedup curation can do."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    base = df.select(F.col(id_col), F.col(text_col),
                     F.md5(norm).alias("fingerprint"))
    keepers = base.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    kept = base.join(keepers, ["fingerprint", id_col])

    toks = tokens(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    stop_ratio = F.round(
        _hits(text_col, LANG_STOPWORDS[lang]).cast("double") / n_tokens, 6)
    punct_ratio = F.round(
        F.length(F.regexp_replace(F.col(text_col), PUNCT_RE, "")).cast("double")
        / n_chars, 6)
    pred = _lang_argmax({n: _hits(text_col, w) for n, w in LANG_STOPWORDS.items()})
    return (
        kept.select(
            F.col(id_col),
            n_tokens.alias("n_tokens"),
            stop_ratio.alias("stopword_ratio"),
            punct_ratio.alias("punct_ratio"),
            pred.alias("predicted_lang"))
        .filter(
            (F.col("predicted_lang") == lang)
            & F.col("n_tokens").between(min_tokens, max_tokens)
            & (F.col("stopword_ratio") >= min_stopword_ratio)
            & (F.col("punct_ratio") <= max_punct_ratio))
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash.

    bucket = md5h32(id) mod 100; weights are integer percentages mapped
    to contiguous bucket ranges in insertion order. Pure projection —
    split membership is a function of the id alone, so it is stable
    across runs, re-partitions, retries, and engines (the md5-based
    bucket is the same arithmetic the dedup oracles use), which is what
    a training pipeline needs from a split: no shuffle, no RNG state,
    and any worker can recompute any row's split."""
    weights = weights or {"train": 80, "val": 10, "test": 10}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100, got {weights}")
    from .dedup import md5h32
    bucket = F.pmod(md5h32(F.col(id_col).cast("string")), F.lit(100))
    expr = None
    hi = 0
    for name, w in weights.items():
        hi += w
        expr = F.when(bucket < hi, name) if expr is None else expr.when(bucket < hi, name)
    return df.withColumn("bucket", bucket).withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str = "doc_id",
    per_stratum: int = 10,
    sample_salt: str = "",
) -> DataFrame:
    """Deterministic balanced sampling: exactly min(per_stratum, |s|)
    rows per stratum, selected by hash order of the id — no RNG state,
    so the sample is identical across runs, partitionings, and engines
    (the reproducibility a training-data pipeline needs for ablations).
    ``sample_salt`` decorrelates the sampling order from any other
    hash-of-id decision (e.g. the split bucketing) and selects a fresh
    sample per salt value.

    One window over (stratum, hash(id)): Spark's WindowGroupLimit
    pushes the rank filter below the sort, so each partition keeps only
    per_stratum rows per stratum before the exchange — the shuffle
    carries O(strata × per_stratum) per partition, not the table."""
    from pyspark.sql.window import Window

    from .dedup import md5h32
    w = Window.partitionBy(strata_col).orderBy(
        md5h32(F.concat(F.lit(sample_salt), F.col(id_col).cast("string"))).asc(),
        F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= per_stratum)
        .drop("__rn")
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    segments: int = 1,
) -> DataFrame:
    """Token -> sorted posting list (the retrieval-index build as a
    Spark job): one row per (token, segment) with the distinct doc ids
    carrying that token, plus the token's global doc_freq.

    The scale hazard of a naive ``groupBy(token).collect_list`` is the
    posting ROW itself: a stopword's postings are corpus-sized, so one
    reducer materializes one giant array. ``segments > 1`` is the
    production shape — postings shard by ``id % segments`` so every
    row is bounded at df/segments and heavy tokens parallelize across
    reducers (the same segment layout Lucene-style engines use; readers
    merge segments, which stay sorted). doc_freq comes from a window
    sum over the already-aggregated (token, segment) rows — bounded at
    tokens x segments, not corpus-sized."""
    if segments < 1:
        raise ValueError("segments must be >= 1")
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
    ).distinct()
    seg = (
        toks.groupBy("token", F.pmod(F.col("id"), F.lit(segments)).alias("segment"))
        .agg(F.sort_array(F.collect_list("id")).alias("postings"),
             F.count("*").alias("seg_df"))
    )
    out = seg.withColumn(
        "doc_freq",
        F.sum("seg_df").over(Window.partitionBy("token")).cast("long"))
    if min_df > 1:
        out = out.filter(F.col("doc_freq") >= min_df)
    return out.select("token", "segment", "postings", "doc_freq")


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query
    term set — the classic retrieval scorer on top of the same token
    stream the inverted index uses. idf is the standard
    ``ln((N - df + 0.5)/(df + 0.5) + 1)``; tf saturates via k1 and
    normalizes by doc length against the corpus average (b).

    Plan shape: one projection computes tokens + doc length, the
    explode filters to QUERY terms immediately (so the shuffle carries
    |docs| x |terms| rows at most, never the token stream), df counts
    collapse to one row per term, and the corpus totals (N, avgdl) ride
    a broadcast single-row frame. Every arithmetic step is
    engine-portable (integer tf/dl/df, one ln) so a SQL oracle
    reproduces the scores bit-for-bit after rounding."""
    if not terms:
        raise ValueError("terms must be non-empty")
    base = (df.select(F.col(id_col).alias("id"),
                      F.split(F.lower(F.col(text_col)), " ").alias("__w"))
            .select("id", "__w", F.size("__w").alias("dl")))
    tf = (base.select("id", "dl", F.explode("__w").alias("token"))
          .filter(F.col("token").isin(list(terms)))
          .groupBy("id", "dl", "token").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df_t"))
    totals = base.agg(F.count("*").alias("N"), F.avg("dl").alias("avgdl"))
    idf = F.log((F.col("N") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5) + 1)
    s = idf * (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_terms"),
             F.round(F.sum(s), 6).alias("bm25"))
        .select(F.col("id").alias(id_col), "n_terms", "bm25")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str | None = None,
    id_col: str = "doc_id",
    sample_salt: str = "",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (top-k per group),
    deterministic: the Efraimidis–Spirakis A-ES scheme — each row draws
    u in (0,1) and ranks by u^(1/w); the top k ranks are a true
    w-weighted sample. Here u derives from a hash of the id (plus
    ``sample_salt``), not an RNG, so the sample is a pure function of
    the data: stable across runs, partitionings, retries, and engines
    — what quality-weighted corpus subsampling needs for reproducible
    ablations (sample docs proportional to a quality score, never
    twice).

    Ranking uses ln(u)/w (monotone in u^(1/w), overflow-free); rows
    with weight <= 0 are excluded by definition (they can never be
    sampled). One window over (group, key): Spark's WindowGroupLimit
    pushes the rank filter below the sort, so each input partition
    pre-filters to k rows per group before the exchange — with
    group_col=None this is the classic distributed top-k, shuffling
    O(partitions x k) rows, not the table."""
    from pyspark.sql.window import Window

    from .dedup import md5h32
    u = (md5h32(F.concat(F.lit(sample_salt), F.col(id_col).cast("string")))
         + F.lit(0.5)) / F.lit(4294967296.0)
    part = [group_col] if group_col else []
    w = Window.partitionBy(*part).orderBy(
        F.col("__wkey").desc(), F.col(id_col).asc())
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__wkey", F.log(u) / F.col(weight_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__wkey", "__rn")
    )


def term_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int | None = None,
) -> DataFrame:
    """Corpus vocabulary statistics: per-token document frequency and
    total occurrence count — the global pass a quality/TF-IDF stage
    needs. One explode + ONE groupBy (map-side partial agg collapses
    each partition's token multiset before the shuffle); doc_freq rides
    the same groupBy as count(distinct doc) — no second shuffle. top_n
    orders by (doc_freq desc, token asc) for a deterministic cut."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"))
    stats = toks.groupBy("token").agg(
        F.countDistinct(id_col).alias("doc_freq"),
        F.count("*").alias("total_count"))
    if top_n is not None:
        stats = stats.orderBy(F.desc("doc_freq"), F.asc("token")).limit(top_n)
    return stats


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 2,
) -> DataFrame:
    """TF-IDF per (doc, token): tf = in-doc count, idf = ln(N/df).

    Two aggregations (per-doc term counts; per-token doc freq) joined on
    token — doc frequency is broadcast-sized (vocabulary ≪ corpus), so
    the join is a broadcast against the per-doc counts, and N rides a
    broadcast single-row frame (same shape as bm25_scores' totals), so
    the whole score is ONE lazy plan: no eager distinct-count job
    blocks the driver at build time (at scale that was a full extra
    corpus pass before the query existed). Scores are rounded to 6
    decimals from exact integer inputs through single correctly-rounded
    ln/div/mul ops, keeping them bit-stable cross-engine."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"))
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = (toks.groupBy("token")
             .agg(F.countDistinct(id_col).alias("doc_freq"))
             .filter(F.col("doc_freq") >= min_doc_freq))
    n_docs = (df.select(id_col).distinct()
              .agg(F.count(F.lit(1)).cast("double").alias("__n_docs")))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col), "token", "tf", "doc_freq",
            F.round(F.col("tf") * F.log(F.col("__n_docs") / F.col("doc_freq")), 6)
            .alias("tfidf"))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks —
    the training-data prep step that turns raw documents into model-
    sized windows: (doc_id, chunk_id, chunk, chunk_chars, n_chunks).

    Pure per-row projection (sequence -> posexplode over substring):
    no shuffle, no UDF — a 100 TB corpus chunks in a single map stage
    riding WholeStageCodegen, and the explode multiplies rows ~
    len/stride-fold WITHOUT materializing any intermediate (each chunk
    is a substring evaluated on emit). Chunk count is
    max(1, ceil((chars - overlap) / stride)) with stride =
    chunk_size - overlap; the division runs in IEEE double on small
    ints (exact), so both engines agree on every boundary."""
    if overlap >= chunk_size:
        raise ValueError(f"overlap ({overlap}) must be < chunk_size ({chunk_size})")
    stride = chunk_size - overlap
    n = F.greatest(
        F.lit(1),
        F.ceil((F.length(F.col(text_col)) - F.lit(overlap))
               / F.lit(float(stride))).cast("int"))
    return (
        df.select(F.col(id_col), F.col(text_col), n.alias("n_chunks"))
        .select(
            F.col(id_col),
            F.posexplode(F.sequence(F.lit(0), F.col("n_chunks") - 1))
             .alias("chunk_id", "_i"),
            F.col(text_col), "n_chunks")
        .select(
            F.col(id_col), "chunk_id",
            F.substring(F.col(text_col), F.col("chunk_id") * stride + 1,
                        chunk_size).alias("chunk"),
            "n_chunks")
        .withColumn("chunk_chars", F.length("chunk"))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    shards: int = 8,
) -> DataFrame:
    """Concat-and-split sequence packing: lay documents end-to-end in
    deterministic id order and cut every `budget` tokens — the
    GPT-style pretraining packing that wastes zero pad tokens. Output
    one row per (document x sequence) span: (shard, seq_id, doc_id,
    seq_offset, tok_len); a document longer than the remaining room
    splits across consecutive sequences, and sum(tok_len) per
    (shard, seq_id) == budget for every full sequence.

    A single global concat order would serialize into one sorted
    window task, so packing shards by pmod(id, shards) first: each
    shard packs independently under a partitioned window (prefix-sum
    of token counts), giving `shards`-way parallelism at any scale —
    at 100 TB pick shards ~ cluster cores and every shard's window
    sorts only |corpus|/shards rows. All arithmetic is integer
    (cumulative counts, floor-division sequence ids), so any engine
    reproduces the exact same packing.
    """
    from pyspark.sql.window import Window

    tok = F.size(tokens(text_col))
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    base = (
        df.select(F.col(id_col),
                  F.pmod(F.col(id_col), F.lit(shards)).alias("shard"),
                  tok.alias("n_tok"))
        # Guards NULL text (size(split(NULL)) = -1), not blank text:
        # split('', ' ') yields [''] so blank docs still pack 1 token,
        # and the oracle's count mirrors that.
        .filter(F.col("n_tok") > 0)
        .withColumn("cum_before", F.coalesce(F.sum("n_tok").over(w),
                                             F.lit(0).cast("long")))
    )
    # `div` is true integer division (bit-identical to the oracle's
    # `//` at any magnitude); floor(a / b) would round through double
    # and lose exactness past 2^53 cumulative tokens.
    first_seq = F.expr(f"cum_before div {int(budget)}")
    last_seq = F.expr(f"(cum_before + n_tok - 1) div {int(budget)}")
    return (
        base
        .select(F.col(id_col), "shard", "n_tok", "cum_before",
                F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"))
        .select(
            "shard", "seq_id", F.col(id_col),
            (F.greatest(F.col("seq_id") * budget, F.col("cum_before"))
             - F.col("seq_id") * budget).alias("seq_offset"),
            (F.least((F.col("seq_id") + 1) * budget,
                     F.col("cum_before") + F.col("n_tok"))
             - F.greatest(F.col("seq_id") * budget, F.col("cum_before")))
            .alias("tok_len"))
    )


# -- repetition / quality gates -----------------------------------------------------

def repetition_metrics(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_dup_token_ratio: float = 0.75,
                       max_top_bigram_frac: float = 0.10) -> DataFrame:
    """Gopher-style repetition quality metrics per document (Rae et al.
    2021 §A1.1 use duplicate-line and top-n-gram fractions; with
    single-line documents the word-level analogues carry the signal):

    - ``dup_token_ratio``: 1 - distinct/total tokens — word-salad and
      keyword-stuffed docs repeat a tiny vocabulary.
    - ``top_bigram_frac``: occurrences of the most frequent word bigram
      over all bigram slots — boilerplate templates repeat one phrase.
    - ``passes``: both below their thresholds (the training-set gate).

    Plan: token stats are pure array expressions (zero shuffle); the
    top-bigram count is one explode + ONE aggregation whose keys carry
    the (functionally doc-dependent) token stats, so no join re-unites
    them — two doc/bigram-keyed shuffles total, both with map-side
    partial aggregation, the same token-shaped cost as shingling. Docs
    with fewer than 2 tokens have no bigram and are excluded (the
    contract documents corpus fixtures guarantee non-trivial docs).
    """
    # tokenize ONCE into a column; referencing split(...) inside the
    # bigram lambda would re-split the whole text per element (O(n^2)
    # per doc — measured 2x whole-query cost at sf0.1)
    base = df.select(
        F.col(id_col), tokens(text_col).alias("w")
    ).select(
        F.col(id_col),
        F.size("w").alias("n_tokens"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
        F.col("w"))
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))")
    per_bigram = (
        base.filter(F.col("n_tokens") >= 2)
        .select(F.col(id_col), "n_tokens", "n_distinct",
                F.explode(bigrams).alias("bg"))
        .groupBy(id_col, "n_tokens", "n_distinct", "bg")
        .agg(F.count("*").alias("c")))
    agg = (per_bigram.groupBy(id_col, "n_tokens", "n_distinct")
           .agg(F.max("c").alias("top_bigram_count")))
    dup_ratio = F.round(
        F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"), 6)
    top_frac = F.round(
        F.col("top_bigram_count").cast("double") / (F.col("n_tokens") - 1), 6)
    return agg.select(
        F.col(id_col), "n_tokens",
        dup_ratio.alias("dup_token_ratio"),
        F.col("top_bigram_count"),
        top_frac.alias("top_bigram_frac"),
        ((dup_ratio <= max_dup_token_ratio)
         & (top_frac <= max_top_bigram_frac)).alias("passes"))


# -- PII redaction ------------------------------------------------------------------

# Deliberately RE2-compatible (no backreferences, no lookaround) so the
# same pattern string runs identically under Java regex (Spark) and RE2
# (DuckDB/Go scrubbers) — a PII pass must behave the same in every
# engine that enforces it.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+1-555-[0-9]{4}"


def pii_redact(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Count and mask email/phone PII: (id, n_emails, n_phones,
    redacted). Pure projection — regexp_count/regexp_replace run inside
    whole-stage codegen, so at 100 TB this is scan-speed: no shuffle,
    no UDF, and column pruning keeps only the text column flowing."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_count(c, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(c, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE, "<PHONE>").alias("redacted"))


# -- domain / language mixture weights ----------------------------------------------

def mixture_weights(df: DataFrame, by: str = "lang",
                    alpha: float = 0.5) -> DataFrame:
    """Temperature-based resampling weights per corpus domain (the
    multilingual-LM mixing rule of XLM-R/mT5: sample domain s with
    q_s proportional to p_s^alpha, alpha<1 upweighting the tail).

    Returns one row per domain: n_docs, the natural share p, the
    resampled share q, and weight = q/p — the expected duplication
    factor a sampler applies to that domain's documents.

    Plan: one groupBy over the corpus (map-side combined — the shuffle
    moves one row per domain per input partition), then two broadcast
    joins against single-row totals. Domain cardinality is small by
    construction (languages/sources), so everything after the first
    aggregation is driver-trivial; no global window is involved, so
    nothing ever funnels through one task."""
    counts = df.groupBy(by).agg(F.count("*").alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("_total"))
    with_p = (counts.crossJoin(F.broadcast(total))
              .withColumn("p", F.col("n_docs").cast("double") / F.col("_total"))
              .withColumn("pa", F.pow(F.col("p"), F.lit(float(alpha)))))
    z = with_p.agg(F.sum("pa").alias("_z"))
    return (with_p.crossJoin(F.broadcast(z))
            .select(F.col(by),
                    F.col("n_docs"),
                    F.round("p", 6).alias("p"),
                    F.round(F.col("pa") / F.col("_z"), 6).alias("q"),
                    F.round(F.col("pa") / F.col("_z") / F.col("p"), 6)
                     .alias("weight")))


# -- unigram language-model quality proxy -------------------------------------------

def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """CCNet-style LM quality score, unigram proxy (Wenzek et al. 2020
    rank documents by LM perplexity; the unigram corpus model needs no
    trained artifact and the ranking signal is the same shape): per-doc
    average negative log-probability of its tokens under the corpus
    unigram distribution. High = rare-token-heavy (gibberish or
    non-corpus language), low = templated/common.

    Plan: one token explode feeds BOTH the vocabulary aggregation and
    the scoring join; the vocab side collapses to ~|vocab| rows
    (map-side combined), so AQE's runtime stats turn the scoring join
    into a broadcast automatically when the vocabulary fits — no
    forced hint, so a huge vocab degrades to a token-keyed shuffle
    join instead of a driver OOM. The 1-row total is always broadcast.
    Final rollup is one id-keyed aggregation."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count("*").alias("tf"))
    total = vocab.agg(F.sum("tf").alias("_n"))
    scored = (tok.join(vocab, "tok")
              .crossJoin(F.broadcast(total))
              .select(F.col(id_col),
                      (F.log(F.col("tf").cast("double"))
                       - F.log(F.col("_n").cast("double"))).alias("lp")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.round(-F.avg("lp"), 6).alias("avg_neg_logprob")))


def token_length_histogram(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           bucket_width: int = 16) -> DataFrame:
    """Sequence-length histogram: docs per token-count bucket — the
    distribution a pipeline sizes its packing budget and truncation
    policy from. Pure projection + one tiny aggregation (bucket
    cardinality ~ max_len/width), map-side combined."""
    w = int(bucket_width)
    bucket = (F.size(tokens(text_col)).cast("long") / w).cast("long") * w
    return (df.select(bucket.alias("bucket_lo"))
            .groupBy("bucket_lo")
            .agg(F.count("*").alias("n_docs"))
            .select("bucket_lo", (F.col("bucket_lo") + w - 1).alias("bucket_hi"),
                    "n_docs"))


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Bigram upgrade of ``unigram_logprob``: per-doc average negative
    conditional log-probability -avg(ln c(w1,w2) - ln c(w1,·)) under
    the corpus bigram model — sensitive to WORD ORDER where the
    unigram proxy is bag-of-words (a shuffled document keeps its
    unigram score but its bigrams crater), which is the fluency axis
    of CCNet-style quality ranking.

    Plan: ONE bigram explode, folded immediately to per-(doc, bigram)
    counts k; BOTH corpus marginals derive from that frame as window
    sums (c2 = Σk over the bigram, c1 = Σk over its first word — a
    bigram determines its first word, so neither needs a second pass
    over the token stream), and the per-doc score is
    -Σ k·(ln c2 - ln c1) / Σ k — algebraically identical to averaging
    per instance, with NO join anywhere: the earlier join-based form
    consumed the explode subtree twice (two corpus scans) and shuffled
    the full bigram STREAM on the bigram key; this one scans once and
    every shuffle is on the smaller distinct-(doc, bigram) frame
    (bench: 8.0s -> 5.7s for cutting the marginal pass, then the
    join-free fold on top). Docs with fewer than two tokens yield no
    bigrams and drop out, like sub-n-gram docs in shingling."""
    from pyspark.sql.window import Window

    # tokenize ONCE into a column (the quality_repetition rule, r16):
    # referencing split(...) through the python-side `w` alias inlines
    # the split into EVERY element_at of the bigram lambda — the text
    # re-splits per bigram, O(n^2) per doc
    base = df.select(F.col(id_col),
                     F.split(F.col(text_col), " ").alias("_w"))
    w = F.col("_w")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(w) - 1),
        lambda i: F.concat_ws(" ", F.element_at(w, i),
                              F.element_at(w, i + 1)))
    bg = (base.filter(F.size(w) >= 2)
          .select(F.col(id_col), F.explode(pairs).alias("big")))
    k = bg.groupBy(id_col, "big").agg(F.count("*").alias("k"))
    scored = (k.withColumn("c2", F.sum("k").over(Window.partitionBy("big")))
              .withColumn("c1", F.sum("k").over(Window.partitionBy(
                  F.substring_index("big", " ", 1))))
              .select(F.col(id_col), "k",
                      (F.col("k").cast("double")
                       * (F.log(F.col("c2").cast("double"))
                          - F.log(F.col("c1").cast("double")))).alias("klp")))
    return (scored.groupBy(id_col)
            .agg(F.sum("k").cast("long").alias("n_bigrams"),
                 F.round(-F.sum("klp") / F.sum("k"), 6)
                  .alias("avg_neg_logprob")))


# -- BPE vocabulary learning --------------------------------------------------------

def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adjacent-symbol-pair frequencies — the inner statistic of BPE
    vocabulary learning (Sennrich et al. 2016): every merge round picks
    the corpus-wide most frequent adjacent pair.

    Corpus shape: one pass collapses the corpus to its WORD frequency
    table first (|vocab| rows — the Zipf head carries nearly all the
    mass), so pair counting explodes distinct words x their length, not
    the raw token stream; each pair count is weighted by the word's
    corpus frequency. That is the standard fast-BPE formulation —
    pair-count cost is vocabulary-shaped, independent of corpus scale
    after the one word-count shuffle.
    """
    words = (df.select(F.explode(tokens(text_col)).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count("*").alias("freq")))
    syms = words.select(
        "freq", F.array_remove(F.split(F.col("word"), "(?!^)"), "").alias("syms"))
    idx = F.explode(F.sequence(F.lit(0), F.size("syms") - 2)).alias("i")
    pairs = (syms.filter(F.size("syms") >= 2)
             .select("freq", "syms", idx)
             .select(F.col("syms")[F.col("i")].alias("left"),
                     F.col("syms")[F.col("i") + 1].alias("right"),
                     "freq"))
    return (pairs.groupBy("left", "right")
            .agg(F.sum("freq").cast("long").alias("pair_freq")))


def select_nonconflicting_merges(counts: DataFrame, k: int,
                                 pool: int = 256) -> DataFrame:
    """The first ``k`` pairs, by (pair_freq desc, left, right) rank,
    that are blocked by NO higher-ranked pair — where blocked means
    sharing a symbol with it, or having a symbol equal to its fused
    string. Such a batch is pairwise symbol-disjoint, so applying its
    merges (in rank order) within one round touches independent symbol
    occurrences: each merge's result is exactly what applying it alone
    would produce, which is what makes batched rounds sound.

    The rule is deliberately NON-transitive (a blocked higher-ranked
    pair still blocks) so it is one self-join over the ranked head,
    not an iteration — both here and in the mirroring DuckDB oracle
    (bpe_top_pairs_batched). It may select fewer than the greedy
    maximal set; the remainder simply lands in a later round.

    ``pool`` bounds the ranked head (a distributed top-N); the rank
    window runs over at most ``pool`` rows regardless of vocabulary
    size. Returns (left, right, pair_freq, rk) in rank order.
    """
    from pyspark.sql.window import Window

    head = (counts.orderBy(F.desc("pair_freq"), "left", "right")
            .limit(int(pool))
            .withColumn("rk", F.row_number().over(
                Window.orderBy(F.desc("pair_freq"), "left", "right"))))
    a, b = head.alias("a"), head.alias("b")
    blocks = (
        (F.col("b.rk") < F.col("a.rk"))
        & ((F.col("b.left") == F.col("a.left"))
           | (F.col("b.left") == F.col("a.right"))
           | (F.col("b.right") == F.col("a.left"))
           | (F.col("b.right") == F.col("a.right"))
           | (F.concat("b.left", "b.right") == F.col("a.left"))
           | (F.concat("b.left", "b.right") == F.col("a.right"))))
    return (a.join(b, blocks, "left_anti")
            .orderBy("rk").limit(int(k))
            .select("left", "right", "pair_freq", "rk"))


# -- DSIR importance weights --------------------------------------------------------

def dsir_importance_weights(
    df: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1024,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023):
    score every raw document by how target-like it is under hashed
    n-gram bag-of-words models — log w(d) = sum over tokens of
    log p_target(bucket) - log p_raw(bucket), with add-one-smoothed
    bucket probabilities over ``num_buckets`` hashed unigram features.
    High scores select pretraining data matching a quality target
    (e.g. wiki-like) from a raw crawl; sampling proportionally to
    w(d) is importance resampling.

    Shape: ONE token explode feeds both feature-count aggregations
    (target counts via conditional sum, raw = all docs — no second
    scan) collapsing to num_buckets rows, broadcast back onto the
    token stream, then one id-keyed rollup. The log-space sum is
    rounded (6) per the registry's float discipline; token hashing is
    the portable md5-based bucket so any engine reproduces it.

    is_target marks the TARGET sample rows inside ``df`` (they get
    weights too — harmless, and keeping one frame means one scan).
    """
    from ..analytics.dedup import md5h32

    m = int(num_buckets)
    tok = df.select(
        F.col(id_col), is_target.alias("_tgt"),
        F.explode(tokens(text_col)).alias("tok"))
    tok = tok.withColumn("bucket", F.pmod(md5h32(F.col("tok")), m))
    counts = tok.groupBy("bucket").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("n_tgt"))
    totals = counts.agg(F.sum("n_raw").alias("_nr"), F.sum("n_tgt").alias("_nt"))
    # add-one smoothing keeps every bucket's log finite in both models
    scored = (tok.join(F.broadcast(counts), "bucket")
              .crossJoin(F.broadcast(totals))
              .select(
                  F.col(id_col),
                  (F.log((F.col("n_tgt") + 1).cast("double"))
                   - F.log((F.col("_nt") + m).cast("double"))
                   - F.log((F.col("n_raw") + 1).cast("double"))
                   + F.log((F.col("_nr") + m).cast("double"))).alias("lw")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.round(F.sum("lw"), 6).alias("log_weight")))


def token_entropy(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-doc Shannon entropy of the token distribution:
    H = ln(n) - (1/n) Σ_t c_t ln(c_t) — the diversity signal quality
    pipelines gate on alongside the repetition metrics (H near 0 =
    one token repeated; H near ln(n) = all tokens distinct; keyboard-
    mash and template spam both sit low).

    Two bounded aggregations: (doc, token) counts (map-side combined),
    then the per-doc rollup. Log arithmetic follows the registry float
    discipline (round 6 absorbs cross-engine ln ULPs)."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    counts = tok.groupBy(id_col, "tok").agg(F.count("*").alias("c"))
    return (counts.groupBy(id_col)
            .agg(F.sum("c").cast("long").alias("n_tokens"),
                 F.round(
                     F.log(F.sum("c").cast("double"))
                     - F.sum(F.col("c").cast("double")
                             * F.log(F.col("c").cast("double")))
                     / F.sum("c").cast("double"), 6).alias("entropy")))


# -- within-doc duplicate-chunk removal (C4 line dedup analogue) --------------

def dedup_chunks_within_doc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
) -> DataFrame:
    """C4-style within-document duplicate-line removal, re-expressed
    for line-less corpora as fixed-width word chunks: the document is
    cut into ``chunk_words``-word chunks, every repeat of an
    already-seen chunk is dropped, and the survivors are re-joined in
    original order (C4 removes duplicate *lines* inside a page — the
    boilerplate/footer repetition signal — before any cross-doc
    dedup runs; cf. Raffel et al. C4 heuristics).

    Returns (id, n_chunks, n_kept, dedup_text).

    Entirely higher-order array expressions in whole-stage codegen —
    split, slice-transform, first-occurrence filter, re-join — so the
    op is a pure per-row projection: NO shuffle, no explode row
    inflation, no state. At 100 TB this runs at scan speed and
    composes with any downstream dedup without touching the plan
    shape. ``filter`` exposes the element index; a chunk survives iff
    ``array_position`` (first occurrence, 1-based) equals its own
    position.
    """
    w = int(chunk_words)
    if w < 1:
        raise ValueError(f"chunk_words must be >= 1, got {chunk_words}")
    # tokenize ONCE into a column (the quality_repetition rule, r16):
    # split(...) inline in the chunk lambda re-splits the text per
    # chunk — O(n^2/w) per doc
    chunks = F.expr(
        f"transform(sequence(0, int((size(_w) - 1) / {w})), "
        f"i -> array_join(slice(_w, i * {w} + 1, {w}), ' '))")
    out = (df.select(F.col(id_col),
                     F.split(F.col(text_col), " ").alias("_w"))
           .select(F.col(id_col), chunks.alias("__chunks")))
    kept = F.expr(
        "filter(__chunks, (c, i) -> array_position(__chunks, c) = i + 1)")
    return out.select(
        F.col(id_col),
        F.size("__chunks").alias("n_chunks"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, " ").alias("dedup_text"))


# -- training-shard manifest ---------------------------------------------------

def shard_manifest(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic shard assignment + per-shard manifest for a
    training-data export: shard = md5h32(id) mod n_shards (the same
    engine-portable hash the split/dedup ops use — any worker can
    recompute any row's shard with no RNG or state), and the manifest
    row per shard carries the doc count, whitespace-token and char
    totals, and the id range — what a downstream loader needs to plan
    epochs and what an auditor needs to verify no shard was dropped.

    One map-side-combined groupBy with n_shards groups: the shuffle
    moves n_shards rows per input partition regardless of corpus size,
    and the result is loader-manifest-sized, never corpus-sized."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from .dedup import md5h32
    shard = F.pmod(md5h32(F.col(id_col).cast("string")), F.lit(int(n_shards)))
    return (df.select(shard.alias("shard"), F.col(id_col),
                      F.size(tokens(text_col)).alias("__nt"),
                      F.length(text_col).alias("__nc"))
            .groupBy("shard")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("__nt").cast("long").alias("total_tokens"),
                 F.sum("__nc").cast("long").alias("total_chars"),
                 F.min(id_col).alias("min_id"),
                 F.max(id_col).alias("max_id")))


# -- sparse TF-IDF all-pairs cosine (inverted-index similarity join) ----------

def sparse_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cutoff: int = 50,
    min_sim: float = 0.5,
    terms: DataFrame | None = None,
) -> DataFrame:
    """All-pairs document cosine similarity over sparse TF-IDF vectors
    via the inverted index — the classic scalable similarity join
    (Lin's DISCO / Elsayed et al. pairwise-similarity-with-MapReduce
    shape): documents only meet through tokens they share, so the pair
    space is generated per posting list instead of per doc pair.

    The scale lever is ``df_cutoff``: tokens appearing in more than
    df_cutoff documents are dropped from the index BEFORE pairing.
    High-df terms are precisely the ones that (a) explode the
    candidate space quadratically and (b) carry the least idf weight —
    pruning them bounds every posting list, so per-token pair work is
    <= df_cutoff^2 and the whole join is skew-capped by construction
    (the standard prefix/df-pruning trade: recall loss is confined to
    pairs whose similarity rides on stopword-grade terms).

    Weights w = tf * ln(N/df); cosine = dot / (||a|| * ||b||), with
    norms computed over the SAME pruned vocabulary so the metric is
    exact for the pruned vector space (and the oracle reproduces it
    bit-for-bit after round-6).

    Plan: one scan -> explode -> (doc, tok, tf) counts; df + N via
    bounded aggregations; norms per doc; posting-list self-join
    (id_a < id_b) grouped to dot products; two norm joins; filter.
    Every aggregation is map-side combined; the only quadratic step is
    inside a capped posting list.

    ``terms`` overrides the default whitespace tokenizer with a
    pre-built (id_col, tok) frame — e.g. word-shingle grams for
    near-dup-grade similarity, where the larger term space keeps
    document frequencies (and hence posting lists) small."""
    if terms is not None:
        term_rows = terms.select(F.col(id_col).alias("id"), "tok")
    else:
        term_rows = df.select(F.col(id_col).alias("id"),
                              F.explode(tokens(text_col)).alias("tok"))
    tf = term_rows.groupBy("id", "tok").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    # NORM-BRANCH shape (r16): the posting groupBy("tok") rides the
    # df-window's HashPartitioning(tok) directly — no second tok
    # exchange — and norms leave the flowing frame entirely.  The old
    # linear form computed norms as a WINDOW over id, which shuffles
    # the FULL posting stream a second time with no map-side combine
    # (window aggregates cannot partial-agg); here norms are a
    # map-side-combined groupBy("id") whose shuffle is |docs|-sized,
    # joined onto the AGGREGATED pair frame (pair-count-sized, far
    # below the raw posting stream).  gram-scale full-row exchanges:
    # linear 3 (tok window, id window, tok groupBy) vs branch 1 (tok
    # window).  The norm branch re-reads the tf/df-window subtree;
    # ReuseExchange dedupes the shuffles, so the corpus is still
    # scanned once (scan-count pin holds).  Interleaved A/B
    # (bench_ab_cosineshape.json, sf0.1, 12 passes): 5.10s -> 4.15s,
    # ratio 0.814; equivalence asserted row-for-row in the tool.
    from pyspark.sql.window import Window
    dfw = Window.partitionBy("tok")
    postings = (tf.crossJoin(F.broadcast(n_docs))
                .withColumn("df_t", F.count("*").over(dfw))
                .filter(F.col("df_t") <= int(df_cutoff))
                .withColumn("w", F.col("tf").cast("double")
                            * F.log(F.col("n_docs").cast("double")
                                    / F.col("df_t").cast("double"))))
    # bucket-grouped pair generation: lists are bounded by df_cutoff,
    # so per-token pair work is <= cutoff^2 by construction
    grouped = (postings.groupBy("tok")
               .agg(F.collect_list(F.struct("id", "w")).alias("ps"))
               .filter(F.size("ps") > 1))
    pairs = grouped.select(F.explode(F.expr(
        "flatten(transform(ps, x -> transform("
        "filter(ps, y -> x.id < y.id), "
        "y -> struct(x.id AS id_a, y.id AS id_b, "
        "x.w * y.w AS prod))))"
    )).alias("p")).select("p.id_a", "p.id_b", "p.prod")
    dots = pairs.groupBy("id_a", "id_b").agg(F.sum("prod").alias("dot"))
    norms = postings.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    return (dots.join(na, "id_a").join(nb, "id_b")
            .select("id_a", "id_b",
                    # try_divide: a doc whose every surviving term is
                    # corpus-universal (idf = ln(N/N) = 0) has norm 0 —
                    # ANSI `/` would crash the job on it; NULL cosine is
                    # then dropped by the threshold filter below
                    F.round(F.try_divide(
                        F.col("dot"),
                        F.col("na") * F.col("nb")), 6).alias("cosine"))
            .filter(F.col("cosine") >= float(min_sim)))


# -- winnowing document fingerprints (MOSS) -----------------------------------

def _winnowing_selected(df: DataFrame, id_col: str, text_col: str,
                        k: int, w: int) -> DataFrame:
    """Winnowing-style document fingerprints (Schleimer, Wilkerson &
    Aiken, MOSS): hash every word k-gram, then keep only the local
    minima — a gram hash is selected where it is the minimum of the
    trailing w-gram window — yielding a small position-independent
    fingerprint SET whose overlap localizes shared passages, the
    plagiarism/excerpt signal that whole-doc MinHash dilutes away.

    This is the trailing-window variant (select pos p iff h_p ==
    min(h[p-w+1..p]), full windows only): one window-min per gram
    instead of canonical winnowing's rightmost-argmin bookkeeping, at
    the cost of the per-window coverage guarantee — for candidate
    generation the density is what matters (expected 2/(w+1) of grams
    selected, same as canonical), and the formulation is a single SQL
    window function both engines evaluate identically.

    Returns the selected (id, fp) stream BEFORE any distinct — fp the
    md5-based 32-bit gram hash the registry's other portable hashing
    uses; winnowing_pairs folds the dedup into its groupBy(fp)
    (collect_set) instead of paying a separate (id, fp) exchange for
    it. Plan: explode grams with position, one per-doc window (the
    shuffle key is the doc id — no skew beyond document length),
    filter. Fingerprint volume is ~2/(w+1) of gram volume.
    """
    if k < 1 or w < 2:
        raise ValueError(f"need k >= 1 and w >= 2, got k={k} w={w}")
    from pyspark.sql.window import Window

    from .dedup import md5h32
    # CASE guard: size < k would make sequence() run DESCENDING
    # (sequence(0,-1) = [0,-1]) and emit garbage grams — short docs
    # must contribute an empty gram array instead (posexplode drops them).
    # Tokenize ONCE into a column (the quality_repetition rule, r16):
    # split(...) written inline in the gram lambda re-splits the whole
    # text per gram position — O(n^2) per doc at scan time
    grams = df.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("_w"),
    ).select(
        F.col(id_col),
        F.posexplode(F.expr(
            f"CASE WHEN size(_w) >= {k} THEN "
            f"transform(sequence(0, size(_w) - {k}), "
            f"i -> array_join(slice(_w, i + 1, {k}), ' ')) "
            f"ELSE array() END"
        )).alias("pos", "gram"))
    hashed = grams.select(id_col, "pos", md5h32(F.col("gram")).alias("h"))
    win = Window.partitionBy(id_col).orderBy("pos") \
                .rowsBetween(-(w - 1), 0)
    sel = (hashed.withColumn("__m", F.min("h").over(win))
           .filter((F.col("pos") >= w - 1) & (F.col("h") == F.col("__m"))))
    return sel.select(F.col(id_col), F.col("h").alias("fp"))


def winnowing_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 5,
    max_df: int = 20,
) -> DataFrame:
    """Candidate near-dup/excerpt pairs by shared winnowing
    fingerprints: docs pair through common fingerprints, scored by how
    many they share. ``max_df`` drops fingerprints present in more
    than that many docs before pairing — boilerplate-phrase
    fingerprints are exactly the ones that explode the candidate space
    and carry no discriminative signal, so per-fingerprint pair work
    is capped at max_df^2 (the same df-pruning lever as the sparse
    cosine join). Returns (id_a, id_b, n_shared >= min_shared).
    """
    # bucket-grouped pair generation (the lsh_candidate_pairs form):
    # one groupBy on fp collects each fingerprint's posting list
    # (max_df-capped), pairs explode in-bucket — the self-join
    # formulation would re-derive the explode->window->distinct
    # fingerprint subtree once per join side (two corpus scans).
    # collect_set FUSES the fingerprints' (id, fp) distinct into
    # this groupBy's map-side partial aggregation — one exchange of the
    # fingerprint volume instead of two (r11; interleaved A/B in
    # bench_ab_winnow.json), same posting lists.
    fps = _winnowing_selected(df, id_col, text_col, k, w)
    grouped = (fps.groupBy("fp")
               .agg(F.collect_set(id_col).alias("ids"))
               .filter((F.size("ids") > 1) & (F.size("ids") <= int(max_df))))
    return (grouped.select(F.explode(F.expr(
                "flatten(transform(ids, x -> transform("
                "filter(ids, y -> x < y), y -> struct(x AS id_a, y AS id_b))))"
            )).alias("p"))
            .select("p.id_a", "p.id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= int(min_shared)))
