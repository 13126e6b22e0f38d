"""Analytics query registrations: dedup / similarity / text operators
with DuckDB oracles (imported by cql_replicator_spark.queries).

Fixtures are synthesized from the shared tables with deterministic
arithmetic both engines reproduce independently:
  * exact-dup corpus:  documents ∪ (doc_id+2000000, same text)
  * near-dup corpus:   documents ∪ (doc_id+1000000, text minus first word)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analytics import dedup as D
from .analytics import similarity as S
from .analytics import text as TX
from .queries import _CDC_BASE_SQL, register, _t

# -- portable hash snippets (DuckDB side) -----------------------------------

def _md5h32_sql(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"


_NORM_SQL = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"

_EXACT_FIXTURE_SQL = """
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents
)
"""

_NEAR_FIXTURE_SQL = """
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text
  FROM documents
)
"""

_SHINGLE_SQL = f"""
words AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM docs
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
  FROM words, unnest(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
)
"""


def _exact_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single scan: the doubled corpus comes from an explode, not a
    # self-union that reads the table twice
    docs = _t(spark, sf_dir, "documents")["documents"]
    return docs.select(
        F.explode(F.array(F.col("doc_id"), F.col("doc_id") + 2000000)).alias("doc_id"),
        "text")


def _near_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single scan like _exact_fixture: original + first-word-dropped
    # mutation exploded from one row, instead of a self-union whose two
    # branches each re-read (and re-shingle) the documents table
    docs = _t(spark, sf_dir, "documents")["documents"]
    pair = F.array(
        F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text")),
        F.struct((F.col("doc_id") + 1000000).alias("doc_id"),
                 F.expr("substring(text, instr(text, ' ') + 1)").alias("text")))
    return (docs.select(F.explode(pair).alias("d"))
            .select("d.doc_id", "d.text"))


# -- shared MinHash-LSH candidate stage ---------------------------------------
#
# Five registered lanes (dedup_minhash_lsh, dedup_clusters,
# dedup_clusters_star, dedup_cluster_keepers, dedup_minhash_accuracy)
# consume the SAME capped candidate pipeline over the same near-dup
# fixture: shingle -> minhash(16) -> band(4) -> capped bucket pairs.
# Rebuilt per lane, that stage re-shingles the corpus five times per
# session — at 100 TB, five full corpus passes for one logical
# computation. A real pipeline persists the signature and pair frames
# once and fans the lanes out from them; this memo does exactly that,
# keyed by (Spark application, corpus path, parameters) so a new
# session, corpus, or configuration rebuilds. Bounded FIFO (unpersist
# on eviction) so pytest's many tmp fixtures can't accumulate.
# Kept only after an interleaved same-session A/B on the registered
# workload (bench_ab_sharedlsh.json): see BENCHNOTES_r11.

_LSH_SHARED: dict[tuple, tuple[DataFrame, ...]] = {}
_LSH_SHARED_MAX = 8
# Registered query builders must be thread-safe (the driver and the
# stress suites fan lanes out across threads); the memo's
# check-build-evict-insert is a compound mutation, so it runs under
# one lock. Builds are lazy (persist() only marks — no Spark job), so
# holding the lock across a build costs microseconds.
_LSH_SHARED_LOCK = __import__("threading").Lock()


def _memo_get_or_put(key: tuple, build) -> tuple[DataFrame, ...]:
    """Locked lookup-or-insert with FIFO eviction: evicted entries'
    frames are unpersisted (non-blocking) so pytest's many tmp
    fixtures can't accumulate executor storage.

    Memo keys lead with the owning applicationId, so entries from a
    STOPPED SparkContext (same process, new session — pytest does
    this) are never served, but they used to linger in the dict and
    count toward the FIFO cap; evicting one then called unpersist()
    on a frame whose context is gone, which can raise inside an
    unrelated new-session query build. Dead-session entries are
    dropped first (their storage died with the context — no unpersist
    needed), and the eviction unpersist is best-effort."""
    app_id = key[0]
    with _LSH_SHARED_LOCK:
        hit = _LSH_SHARED.get(key)
        if hit is not None:
            return hit
        for stale in [k for k in _LSH_SHARED if k[0] != app_id]:
            _LSH_SHARED.pop(stale)
        frames = build()
        while len(_LSH_SHARED) >= _LSH_SHARED_MAX:
            for old in _LSH_SHARED.pop(next(iter(_LSH_SHARED))):
                try:
                    old.unpersist(blocking=False)
                except Exception:
                    pass  # best-effort cleanup; entry is gone either way
        _LSH_SHARED[key] = frames
        return frames


def _shared_capped_lsh(spark: SparkSession, sf_dir: str,
                       n: int = 3, num_hashes: int = 16, bands: int = 4,
                       max_bucket_size: int = 256
                       ) -> tuple[DataFrame, DataFrame]:
    """(signatures, pairs) for the standard capped LSH configuration,
    both persisted MEMORY_AND_DISK and shared across the five lanes of
    one session. Deterministic pipeline: lanes see identical frames
    whether the memo hits or misses."""
    import os as _os

    from pyspark import StorageLevel

    key = (spark.sparkContext.applicationId, _os.path.realpath(sf_dir),
           n, num_hashes, bands, max_bucket_size)

    def build():
        docs = _near_fixture(spark, sf_dir)
        sigs = D.minhash_signatures(docs, n=n, num_hashes=num_hashes) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        pairs = D.lsh_candidate_pairs(sigs, bands=bands,
                                      rows_per_band=num_hashes // bands,
                                      max_bucket_size=max_bucket_size) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        return sigs, pairs

    return _memo_get_or_put(key, build)


# -- text analysis -----------------------------------------------------------

_STOP_EN = ", ".join(f"'{w}'" for w in TX.LANG_STOPWORDS["en"])


@register(
    "text_metrics",
    oracle=f"""
SELECT doc_id,
  length(text) AS n_chars,
  len(string_split(text, ' ')) AS n_tokens,
  round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        / len(string_split(text, ' ')), 6) AS avg_token_len,
  round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_EN}))) AS DOUBLE)
        / len(string_split(text, ' ')), 6) AS stopword_ratio,
  round(CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
        / length(text), 6) AS punct_ratio
FROM documents
""",
    doc="Text quality metrics: token/char counts, stopword + punct ratios",
)
def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.text_metrics(_t(spark, sf_dir, "documents")["documents"])


@register(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
  len(string_split(text, ' ')) AS ws_tokens,
  len(regexp_extract_all(text, '{TX.BPE_TOKEN_RE}')) AS bpe_tokens
FROM documents
""",
    doc="Whitespace + BPE-ish regex token counting",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_count_bpe(_t(spark, sf_dir, "documents")["documents"])


_STAGE_ROOT: str | None = None


def _stage_dir(name: str) -> str:
    """Per-query staging directory under a per-PROCESS mkdtemp root:
    concurrent harness processes can't clobber each other's staged
    files (mkdtemp is unpredictable and 0700, so no shared-/tmp
    symlink or pre-create hazard either), while repeated runs within
    one process reuse one bounded location. The root is removed
    atexit; each query's subdir is additionally cleared on entry so
    file-source micro-batch counts stay deterministic."""
    import atexit
    import os
    import shutil
    import tempfile

    global _STAGE_ROOT
    if _STAGE_ROOT is None:
        _STAGE_ROOT = tempfile.mkdtemp(prefix="spark_graft_stage_")
        atexit.register(shutil.rmtree, _STAGE_ROOT, ignore_errors=True)
    d = os.path.join(_STAGE_ROOT, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _lang_hits_and_case() -> tuple[str, str]:
    """(hits select-list, argmax CASE) — the SQL mirror of
    analytics.text._lang_argmax, shared by langid and curation oracles."""
    names = list(TX.LANG_STOPWORDS)
    hits = ",\n  ".join(
        "len(list_filter(string_split(text, ' '), t -> t IN ({lst}))) AS hits_{n}".format(
            lst=", ".join(f"'{w}'" for w in TX.LANG_STOPWORDS[n]), n=n)
        for n in names)
    cases = []
    for i, n in enumerate(names[:-1]):
        cond = " AND ".join(f"hits_{n} >= hits_{o}" for o in names[i + 1:])
        cases.append(f"WHEN {cond} THEN '{n}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    return hits, case_sql


def _langid_oracle() -> str:
    names = list(TX.LANG_STOPWORDS)
    hits, case_sql = _lang_hits_and_case()
    return f"""
WITH hits AS (
  SELECT doc_id,
  {hits}
  FROM documents
)
SELECT doc_id, {', '.join('hits_' + n for n in names)}, {case_sql} AS predicted_lang
FROM hits
"""


@register("text_language_id", oracle=_langid_oracle(),
          doc="Stopword-hit language identification heuristic")
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.language_id(_t(spark, sf_dir, "documents")["documents"])


@register(
    "doc_fingerprint",
    oracle=f"SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents",
    doc="Document fingerprint (rolling-hash equivalent): md5 of normalized text",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint(_t(spark, sf_dir, "documents")["documents"])


# -- dedup ---------------------------------------------------------------------

@register(
    "dedup_exact_groups",
    oracle=f"""
WITH {_EXACT_FIXTURE_SQL}
SELECT md5({_NORM_SQL}) AS fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS keeper_id
FROM docs
GROUP BY 1
""",
    doc="Exact dedup: duplicate groups by content hash, min-id keeper",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(_exact_fixture(spark, sf_dir))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_NEAR_FIXTURE_SQL},
{_SHINGLE_SQL},
sizes AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, common, sa.n_grams AS size_a, sb.n_grams AS size_b
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 2 * common >= (sa.n_grams + sb.n_grams - common)
""",
    doc="N-gram Jaccard near-dup pairs (integer-exact, threshold 1/2)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_near_fixture(spark, sf_dir), n=3,
                                 threshold_num=1, threshold_den=2)


def _minhash_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    tail: str = "SELECT id_a, id_b FROM pairs",
    recursive: bool = False,
    max_bucket_size: int | None = None,
    corpus_cap: tuple[str, int] | None = None,
) -> str:
    """The MinHash+LSH pair pipeline as SQL, ending in a ``pairs`` CTE;
    ``tail`` consumes it (recursive=True for closure-based tails).
    max_bucket_size mirrors the Spark side's degenerate-bucket cap
    (HAVING count(*) BETWEEN 2 AND N, the dedup_simhash_pairs pattern)
    so the oracle check stays exact on capped lanes. corpus_cap
    (predicate_sql, N) mirrors cross_corpus_lsh_pairs' one-sided cap
    instead: only rows matching the predicate (the persisted corpus)
    count toward the bucket size, matching the Spark side that sizes
    buckets on the corpus frame alone before the batch join."""
    min_exprs = []
    for j in range(num_hashes):
        a, b_, p = D.MINHASH_A[j], D.MINHASH_B[j], D.MINHASH_P
        min_exprs.append(f"min((h * {a} + {b_}) % {p}) AS mh{j}")
    mins = ",\n    ".join(min_exprs)
    r = num_hashes // bands
    band_selects = []
    for b in range(bands):
        key = " || '|' || ".join(
            f"CAST(mh{b * r + i} AS VARCHAR)" for i in range(r))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS bucket FROM sig")
    banded = "\nUNION ALL\n".join(band_selects)
    if max_bucket_size is not None:
        pairs = f"""ok AS (
  SELECT band, bucket FROM banded
  GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND {max_bucket_size}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok USING (band, bucket)
  JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
)"""
    elif corpus_cap is not None:
        pred, cap = corpus_cap
        pairs = f"""ok AS (
  SELECT band, bucket FROM banded WHERE {pred}
  GROUP BY band, bucket HAVING count(*) <= {cap}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN ok USING (band, bucket)
  JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
)"""
    else:
        pairs = """pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""
    return f"""
WITH {"RECURSIVE " if recursive else ""}{_NEAR_FIXTURE_SQL},
{_SHINGLE_SQL},
hs AS (SELECT doc_id, {_md5h32_sql('gram')} AS h FROM sh),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hs GROUP BY doc_id
),
banded AS (
{banded}
),
{pairs}
{tail}
"""


@register("dedup_minhash_lsh", oracle=_minhash_oracle(max_bucket_size=256),
          doc="MinHash(16) + LSH(4 bands) candidate pairs — the scale path "
              "for near-dup. max_bucket_size=256 drops degenerate "
              "boilerplate buckets before the O(|b|^2) pair explosion "
              "(the 20x smoke measured a 34x uncapped blowup on one "
              "template-identical pile); mirrored in the oracle "
              "(HAVING count(*) BETWEEN 2 AND 256) so the check is exact")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_capped_lsh(spark, sf_dir)[1]


@register(
    "dedup_clusters",
    # transitive closure of the LSH pair graph. The oracle's recursive
    # CTE enumerates reachable labels and takes the min per node — the
    # closure is tiny (near-dup components), so full enumeration is
    # fine SQL-side; the Spark side converges by min-label propagation.
    oracle=_minhash_oracle(recursive=True, max_bucket_size=256, tail="""
, edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS id, src AS label FROM edges
  UNION
  SELECT e.src AS id, r.label
  FROM edges e JOIN reach r ON e.dst = r.id
)
SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id
"""),
    doc="Near-dup cluster formation: connected components over the "
        "MinHash-LSH pair graph (min-id canonical label) — turns pairwise "
        "candidates into transitive keep/drop groups. Candidate stage "
        "capped (max_bucket_size=256, oracle-mirrored)",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.connected_components(_shared_capped_lsh(spark, sf_dir)[1])


@register(
    "dedup_clusters_star",
    # identical result contract to dedup_clusters — the closure of the
    # same capped pair graph — so the oracle is the same recursive CTE;
    # what differs is the Spark algorithm under test
    oracle=_minhash_oracle(recursive=True, max_bucket_size=256, tail="""
, edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS id, src AS label FROM edges
  UNION
  SELECT e.src AS id, r.label
  FROM edges e JOIN reach r ON e.dst = r.id
)
SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id
"""),
    doc="The large-star/small-star connected-components variant "
        "(alternating star rounds, O(log n) convergence on adversarial "
        "long-chain graphs where min-label needs diameter rounds) over "
        "the same capped MinHash-LSH pair graph — same (doc_id, "
        "cluster_id=min id) contract as dedup_clusters, so the same "
        "closure oracle checks it exactly; this row drives the "
        "alternative algorithm through the driver instead of leaving "
        "it pytest-only. Two edge-shaped shuffles per (shrinking) "
        "round, localCheckpoint lineage cuts — the 100 TB path for "
        "deep pair graphs",
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.connected_components(_shared_capped_lsh(spark, sf_dir)[1],
                                  algorithm="star")


@register(
    "dedup_simhash",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents)
),
h AS (SELECT doc_id, {_md5h32_sql('tok')} AS h FROM toks),
contrib AS (
  SELECT doc_id, i, sum(((h >> i) & 1) * 2 - 1) AS s
  FROM h, unnest(generate_series(0, 31)) AS t(i)
  GROUP BY doc_id, i
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << i)
            AS BIGINT) AS simhash
FROM contrib GROUP BY doc_id
""",
    doc="SimHash 32-bit signatures per document",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_signatures(_t(spark, sf_dir, "documents")["documents"])


@register(
    "dedup_simhash_pairs",
    oracle=f"""
WITH {_NEAR_FIXTURE_SQL},
toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM docs)
),
h AS (SELECT doc_id, {_md5h32_sql('tok')} AS h FROM toks),
contrib AS (
  SELECT doc_id, i, sum(((h >> i) & 1) * 2 - 1) AS s
  FROM h, unnest(generate_series(0, 31)) AS t(i)
  GROUP BY doc_id, i
),
sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << i)
              AS BIGINT) AS simhash
  FROM contrib GROUP BY doc_id
),
banded AS (
  SELECT doc_id, simhash, b AS band, (simhash >> (b * 8)) & 255 AS bucket
  FROM sigs, unnest(generate_series(0, 3)) AS t(b)
),
ok AS (
  SELECT band, bucket FROM banded
  GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND 256
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM banded a
JOIN ok USING (band, bucket)
JOIN banded b USING (band, bucket)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    doc="SimHash Hamming near-dup pairs over the near-dup fixture: "
        "4x8-bit prefix bands (Hamming<=3 guarantees a shared band by "
        "pigeonhole) -> in-bucket pairing -> popcount(xor) verify. "
        "max_bucket_size=256 drops degenerate boilerplate buckets (the "
        "synthetic corpus concentrates templated docs into one 6000-doc "
        "bucket at sf0.1 — quadratic pair work with no band signal); the "
        "cap is mirrored in the oracle so the check stays exact",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_hamming_pairs(_near_fixture(spark, sf_dir),
                                   max_bucket_size=256)


def _curation_oracle() -> str:
    hits, case_sql = _lang_hits_and_case()
    return f"""
WITH {_EXACT_FIXTURE_SQL},
keep AS (
  SELECT min(doc_id) AS doc_id FROM docs GROUP BY md5({_NORM_SQL})
),
kept AS (SELECT d.doc_id, d.text FROM docs d JOIN keep USING (doc_id)),
h AS (
  SELECT doc_id, text,
  {hits}
  FROM kept
),
m AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_tokens,
    round(CAST(hits_en AS DOUBLE) / len(string_split(text, ' ')), 6) AS stopword_ratio,
    round(CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
          / length(text), 6) AS punct_ratio,
    {case_sql} AS predicted_lang
  FROM h
)
SELECT doc_id, n_tokens, stopword_ratio, punct_ratio, predicted_lang
FROM m
WHERE predicted_lang = 'en' AND n_tokens BETWEEN 20 AND 90
  AND stopword_ratio >= 0.03 AND punct_ratio <= 0.2
"""


@register(
    "curate_documents",
    oracle=_curation_oracle(),
    doc="Composed curation pipeline over the doubled-corpus fixture: exact "
        "dedup (min-id canonical per content fingerprint), language gate, "
        "and quality gates (token range, stopword floor, punctuation "
        "ceiling) — the end-to-end keep/drop decision, one shuffle total",
)
def curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.curate(_exact_fixture(spark, sf_dir))


@register(
    "dataset_hash_split",
    oracle=f"""
WITH b AS (
  SELECT doc_id, {_md5h32_sql('CAST(doc_id AS VARCHAR)')} % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs
FROM b GROUP BY 1
""",
    doc="Deterministic train/val/test split by id hash (md5 bucket mod "
        "100): stable across runs/retries/engines, pure projection",
)
def dataset_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return (TX.hash_split(docs)
            .groupBy("split").agg(F.count("*").alias("n_docs")))


@register(
    "stratified_sample_by_split",
    # strata = the deterministic train/val/test assignment; the sample
    # hash (md5 of 's'||id) is deliberately distinct from the split
    # hash (md5 of id) so sampling order is independent of bucketing.
    oracle=f"""
WITH b AS (
  SELECT doc_id, {_md5h32_sql('CAST(doc_id AS VARCHAR)')} % 100 AS bucket
  FROM documents
),
s AS (
  SELECT doc_id, CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val'
                      ELSE 'test' END AS split
  FROM b
),
r AS (
  SELECT doc_id, split,
         row_number() OVER (PARTITION BY split
           ORDER BY {_md5h32_sql("'s' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
  FROM s
)
SELECT doc_id, split FROM r WHERE rn <= 10
""",
    doc="Deterministic balanced sampling: exactly 10 docs per train/val/"
        "test stratum, selected by id-hash order — identical across runs, "
        "partitionings, and engines; WindowGroupLimit prunes per-partition "
        "before the shuffle",
)
def stratified_sample_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    base = TX.hash_split(docs).select("doc_id", "split")
    return TX.stratified_sample(base, "split", per_stratum=10,
                                sample_salt="s")


@register(
    "weighted_sample_docs",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         ln(({_md5h32_sql('CAST(doc_id AS VARCHAR)')} + 0.5) / 4294967296.0)
           / n_chars AS wkey
  FROM documents WHERE n_chars > 0
),
ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY wkey DESC, doc_id) AS rn
  FROM keyed
)
SELECT doc_id, lang, n_chars FROM ranked WHERE rn <= 5
""",
    doc="Weighted sampling without replacement (Efraimidis-Spirakis "
        "A-ES): 5 docs per language drawn proportional to n_chars, with "
        "u from a hash of the id instead of an RNG — the sample is a "
        "pure function of the data, reproducible across runs and "
        "engines. Rank key ln(u)/w is monotone in u^(1/w); "
        "WindowGroupLimit pre-filters each partition to k rows per "
        "group before the exchange, so the shuffle carries "
        "O(partitions x k x groups), not the corpus",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return TX.weighted_sample(
        docs.select("doc_id", "lang", "n_chars"), "n_chars", k=5,
        group_col="lang")


@register(
    "text_inverted_index",
    oracle="""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
seg AS (
  SELECT token, doc_id % 4 AS segment,
         list_sort(list(doc_id)) AS postings,
         count(*) AS seg_df
  FROM toks GROUP BY token, doc_id % 4
),
tot AS (SELECT token, CAST(sum(seg_df) AS BIGINT) AS doc_freq
        FROM seg GROUP BY token)
SELECT s.token, s.segment,
       array_to_string(s.postings, ',') AS postings,
       t.doc_freq
FROM seg s JOIN tot t USING (token)
WHERE t.doc_freq >= 50
""",
    doc="Segmented inverted-index build (text.inverted_index): token -> "
        "sorted posting lists sharded by doc_id % 4, restricted to "
        "tokens in >= 50 docs. Segmentation is the scale answer to the "
        "posting-ROW hazard — a stopword's naive collect_list is "
        "corpus-sized in one reducer; sharded, every row is bounded at "
        "df/segments and heavy tokens parallelize (Lucene-style "
        "segments, merged sorted at read). doc_freq via a window sum "
        "over the aggregated rows, never the corpus. The registered "
        "OUTPUT scalarizes postings to a comma-joined string: the "
        "driver's order-insensitive hasher sorts pandas frames and "
        "cannot sort/hash array cells (r5 err row), and registry "
        "outputs now ban ArrayType/MapType by test",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    idx = TX.inverted_index(docs, min_df=50, segments=4)
    return idx.select(
        "token", "segment",
        F.array_join(F.col("postings").cast("array<string>"), ",")
        .alias("postings"),
        "doc_freq")


@register(
    "text_bm25_scores",
    oracle="""
WITH base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
d AS (SELECT doc_id, len(w) AS dl, w FROM base),
tf AS (
  SELECT doc_id, dl, t.token, count(*) AS tf
  FROM d, unnest(w) AS t(token)
  WHERE t.token IN ('scan', 'merge', 'window')
  GROUP BY doc_id, dl, t.token
),
dfreq AS (SELECT token, count(*) AS df_t FROM tf GROUP BY token),
tot AS (SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM base)
SELECT tf.doc_id,
       CAST(count(*) AS BIGINT) AS n_terms,
       round(sum(
         ln((tot.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5) + 1)
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / tot.avgdl))
       ), 6) AS bm25
FROM tf JOIN dfreq USING (token) CROSS JOIN tot
GROUP BY tf.doc_id
""",
    doc="Okapi BM25 scoring (text.bm25_scores) of the corpus against a "
        "fixed query term set — the retrieval scorer paired with the "
        "segmented inverted index. Tokens filter to query terms before "
        "any shuffle (|docs| x |terms| rows max), term doc-frequencies "
        "collapse to one row per term, corpus totals broadcast as a "
        "single row; integer tf/dl/df plus one ln keep the doubles "
        "bit-reproducible across engines after rounding",
)
def text_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return TX.bm25_scores(docs, ["scan", "merge", "window"])


@register(
    "text_term_stats",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
)
SELECT token, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_count
FROM toks GROUP BY token
ORDER BY doc_freq DESC, token
LIMIT 50
""",
    doc="Corpus vocabulary statistics: per-token document frequency and "
        "occurrence totals, top-50 deterministic cut",
)
def text_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.term_stats(_t(spark, sf_dir, "documents")["documents"], top_n=50)


@register(
    "text_tfidf",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
dfreq AS (
  SELECT token, count(DISTINCT doc_id) AS doc_freq
  FROM toks GROUP BY token HAVING count(DISTINCT doc_id) >= 2
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token, tf.tf, dfreq.doc_freq,
       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.doc_freq), 6) AS tfidf
FROM tf JOIN dfreq USING (token), n
""",
    doc="TF-IDF per (doc, token): broadcast-joined document frequencies, "
        "integer inputs through single correctly-rounded ln/div ops",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.tf_idf(_t(spark, sf_dir, "documents")["documents"])


# -- similarity -----------------------------------------------------------------

def _floor_long_sql(x: str) -> str:
    """DuckDB mirror of Spark's floor(DOUBLE) -> LONG, which follows
    the JVM (long)double conversion: NaN -> 0, out-of-range saturates
    to Long.MIN/MAX (verified empirically against Spark 4.1). DuckDB's
    own CAST errors on overflow and its TRY_CAST errors on NaN (engine
    quirk), so a poison component would kill the plain-SQL oracle."""
    return (f"CASE WHEN isnan({x}) THEN 0 "
            f"WHEN {x} >= 9223372036854775808.0 THEN 9223372036854775807 "
            f"WHEN {x} <= -9223372036854775808.0 THEN -9223372036854775808 "
            f"ELSE CAST(floor({x}) AS BIGINT) END")


# Poison-hardened cosine, mirroring analytics.similarity.cosine's
# contract: NULL for a NULL/empty/dimension-mismatched pair (Spark's
# zip_with/size path), NULL for zero norm (DuckDB x/0.0 is NULL, like
# try_divide), NULL for a NaN result (inf/overflow components — Spark
# nanvl). Malformed pairs go through a REAL filter + UNION ALL, not a
# CASE guard: DuckDB's list_inner_product validates its whole input
# vector batch, so a CASE branch still crashes on the rows the WHEN
# excluded — only a WHERE produces clean vectors.
_COS_SQL = """
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         CASE WHEN isnan(list_dot_product(qv, cv)
                / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))))
              THEN NULL
              ELSE list_dot_product(qv, cv)
                / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
         END AS cos
  FROM q, c
  WHERE query_id <> neighbor_id AND qv IS NOT NULL AND cv IS NOT NULL
    AND len(qv) = len(cv) AND len(qv) > 0
  UNION ALL
  SELECT query_id, neighbor_id, CAST(NULL AS DOUBLE) AS cos
  FROM q, c
  WHERE query_id <> neighbor_id AND (qv IS NULL OR cv IS NULL
    OR len(qv) <> len(cv) OR len(qv) = 0)
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
"""


@register(
    "similarity_cosine_topk",
    oracle=f"""
WITH {_COS_SQL}
SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5
""",
    doc="Brute-force cosine top-5 neighbors for query vectors (exact ANN baseline)",
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return S.cosine_topk(emb.filter(F.col("vec_id") < 5), emb, k=5)


@register(
    "similarity_cosine_topk_vectorized",
    # this oracle ranks on round(cos, 12), NOT raw cos like _COS_SQL:
    # the lane's numpy matmul rounds position-dependently (BLAS gemm
    # blocking — the r15 all-ties sweep measured two bit patterns for
    # identical vector pairs in one matmul), so the lane ranks on a
    # 12dp score grid and the oracle must rank on the same grid or
    # exact ties resolve differently. The exact lane
    # (similarity_cosine_topk) keeps the raw-cos oracle: its Spark
    # expression fold is bit-identical to DuckDB's list_dot_product.
    oracle=f"""
WITH {_COS_SQL},
grid_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cos, 12) DESC, neighbor_id)
           AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id FROM grid_ranked WHERE rank <= 5
""",
    doc="Vectorized Pandas-UDF top-k: Arrow batches + numpy matmul against "
        "the broadcast corpus matrix — the high-throughput exact path "
        "(~100x the per-row expression fold). Ranks on a 12dp score grid "
        "with id tie-break (see cosine_topk_np's docstring for why raw "
        "BLAS scores are not comparable across partitionings)",
)
def similarity_cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return S.cosine_topk_np(emb.filter(F.col("vec_id") < 5), emb, k=5)


@register(
    "similarity_ann_ivf",
    # approximate vs brute force, but fully DETERMINISTIC given fixed
    # centroids + nprobe — so the whole index-build + probe + rank chain
    # is expressible in SQL and oracle-checked end-to-end. The cosine
    # form matches _COS_SQL (left-to-right double fold == DuckDB
    # list_dot_product, bit-identical).
    oracle="""
WITH cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS centv
  FROM embeddings WHERE vec_id < 8
),
corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT corpus.vec_id, cents.cid,
           row_number() OVER (PARTITION BY corpus.vec_id ORDER BY
             CASE WHEN cv IS NULL OR centv IS NULL OR len(cv) = 0 OR len(cv) <> len(centv) THEN NULL ELSE (CASE WHEN isnan(list_dot_product(cv, centv) / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(centv, centv)))) THEN NULL ELSE list_dot_product(cv, centv) / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(centv, centv))) END) END DESC,
             cid) AS rn
    FROM corpus, cents)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, cents.cid,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             CASE WHEN qv IS NULL OR centv IS NULL OR len(qv) = 0 OR len(qv) <> len(centv) THEN NULL ELSE (CASE WHEN isnan(list_dot_product(qv, centv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(centv, centv)))) THEN NULL ELSE list_dot_product(qv, centv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(centv, centv))) END) END DESC,
             cid) AS rn
    FROM q, cents)
  WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CASE WHEN q.qv IS NULL OR c.cv IS NULL OR len(q.qv) = 0 OR len(q.qv) <> len(c.cv) THEN NULL ELSE (CASE WHEN isnan(list_dot_product(q.qv, c.cv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))) THEN NULL ELSE list_dot_product(q.qv, c.cv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) END) END AS cos
  FROM probes p
  JOIN assigned a ON a.cid = p.cid
  JOIN corpus c ON c.vec_id = a.vec_id
  JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5
""",
    doc="IVF ANN: centroid-bucketed search, nprobe=2 of 8 clusters "
        "(map-only index build; deterministic, oracle-checked end-to-end)",
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    indexed = S.ivf_build(emb, centroids)
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ivf_search(queries, indexed, centroids, k=5, nprobe=2)


@register(
    "dedup_embedding_cosine",
    # IVF-routed (nprobe=1): nearest neighbor within each vector's own
    # centroid bucket. Deterministic -> SQL-expressible; the exact
    # all-pairs form lives on only as a pytest recall baseline
    # (test_analytics: _embedding_near_dup_pairs), never as a registered
    # plan — its BroadcastNestedLoopJoin is an O(n²) scale-killer.
    oracle="""
WITH cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS centv
  FROM embeddings WHERE vec_id < 8
),
corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT corpus.vec_id, cents.cid,
           row_number() OVER (PARTITION BY corpus.vec_id ORDER BY
             CASE WHEN cv IS NULL OR centv IS NULL OR len(cv) = 0 OR len(cv) <> len(centv) THEN NULL ELSE (CASE WHEN isnan(list_dot_product(cv, centv) / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(centv, centv)))) THEN NULL ELSE list_dot_product(cv, centv) / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(centv, centv))) END) END DESC,
             cid) AS rn
    FROM corpus, cents)
  WHERE rn = 1
),
scored AS (
  SELECT ax.vec_id AS id_a, ay.vec_id AS id_b,
         CASE WHEN x.cv IS NULL OR y.cv IS NULL OR len(x.cv) = 0 OR len(x.cv) <> len(y.cv) THEN NULL ELSE (CASE WHEN isnan(list_dot_product(x.cv, y.cv) / (sqrt(list_dot_product(x.cv, x.cv)) * sqrt(list_dot_product(y.cv, y.cv)))) THEN NULL ELSE list_dot_product(x.cv, y.cv) / (sqrt(list_dot_product(x.cv, x.cv)) * sqrt(list_dot_product(y.cv, y.cv))) END) END AS cos
  FROM assigned ax
  JOIN assigned ay ON ax.cid = ay.cid AND ax.vec_id <> ay.vec_id
  JOIN corpus x ON x.vec_id = ax.vec_id
  JOIN corpus y ON y.vec_id = ay.vec_id
),
ranked AS (
  SELECT id_a, id_b,
         row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rank
  FROM scored
)
SELECT id_a, id_b FROM ranked WHERE rank = 1
""",
    doc="Embedding-cosine near-dup, IVF-bucketed: nearest neighbor within "
        "each vector's centroid bucket — one shuffle on centroid_id, "
        "never O(n²)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    return S.embedding_ivf_near_dup_pairs(emb, centroids)


@register(
    "events_enriched_stream",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
""",
    doc="Stream-static enrichment join over a real Structured Streaming "
        "job: each event micro-batch hydrated with broadcast dimension "
        "attributes; streamed append output equals the batch join",
)
def events_enriched_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from .session import load_tables
    from .streaming.windows import (
        enrich_with_dim, run_stream_to_memory, stage_microbatches,
        stream_events_from_dir,
    )

    t = load_tables(spark, sf_dir, ["events", "customer"])
    events = t["events"].select("event_id", "user_id", "event_type")
    stage = _stage_dir("enrich_stream")
    # two staged micro-batches through the same static dim, each
    # written by k parallel tasks (never a coalesce(1) funnel)
    k = stage_microbatches(
        [events.filter(c) for c in (F.col("event_id") % 2 == 0,
                                    F.col("event_id") % 2 == 1)], stage)
    stream = stream_events_from_dir(spark, stage, events.schema,
                                    max_files_per_trigger=k)
    enriched = enrich_with_dim(stream, t["customer"])
    qname = f"enriched_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(enriched, qname, output_mode="append")
    return spark.table(qname)


@register(
    "events_conversion_stream",
    oracle="""
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       v.ts AS view_ts, p.ts AS purchase_ts
FROM events v
JOIN events p ON p.user_id = v.user_id
  AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
""",
    doc="Watermarked stream-stream interval join over a real Structured "
        "Streaming job: views pair with same-user purchases inside a "
        "30-minute window, state bounded by the range predicate + 1h "
        "watermarks. Input staged as two time-ordered micro-batches so "
        "cross-batch matches exercise the join buffer; append output "
        "equals the batch inequality join",
)
def events_conversion_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from .session import load_tables
    from .streaming.windows import (
        interval_join, run_stream_to_memory, stage_microbatches,
        stream_events_from_dir,
    )

    ev = (load_tables(spark, sf_dir, ["events"])["events"]
          .select("event_id", "user_id", "event_type",
                  F.col("ts").cast("timestamp").alias("ts")))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    if lo is None:
        # empty events: nothing to stream; the interval join of
        # nothing is the oracle's zero rows, not a NoneType crash
        return spark.createDataFrame(
            [], "view_id LONG, purchase_id LONG, user_id LONG, "
                "view_ts TIMESTAMP, purchase_ts TIMESTAMP")
    mid = lo + (hi - lo) / 2
    stage = _stage_dir("conv_stream")
    # time-ordered micro-batches: event time advances across batches, so
    # the 1h watermark can never mark batch-2 rows late while boundary
    # views stay buffered for their 30min match window; each batch is
    # staged by k parallel tasks (never a coalesce(1) funnel)
    k = stage_microbatches(
        [ev.filter(c) for c in (F.col("ts") <= F.lit(mid),
                                F.col("ts") > F.lit(mid))], stage)
    stream = stream_events_from_dir(spark, stage, ev.schema,
                                    max_files_per_trigger=k)
    joined = interval_join(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "purchase"))
    out = joined.select(
        F.col("l_event_id").alias("view_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.col("l_user_id").alias("user_id"),
        F.col("l_ts").alias("view_ts"),
        F.col("r_ts").alias("purchase_ts"))
    qname = f"conv_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(out, qname, output_mode="append")
    return spark.table(qname)


@register(
    "ivm_stream_refresh",
    oracle=f"""
WITH {_CDC_BASE_SQL}
SELECT pk % 100 AS grp,
       CAST(sum(ts) AS BIGINT) AS sum_v,
       CAST(count(*) AS BIGINT) AS n
FROM t1 GROUP BY pk % 100
""",
    doc="Streaming incremental view maintenance: the CDC envelope "
        "(before/after images) staged as two micro-batches and consumed "
        "by a real Structured Streaming foreachBatch job that folds "
        "each batch's per-group +after-before deltas into a versioned "
        "parquet state table (ivm.deltas_from_envelope + "
        "refresh_aggregate). Final state must equal a direct recompute "
        "from T1 — the streaming materialized-view loop: change feed "
        "in, O(changes) maintenance per batch, base table never "
        "rescanned",
)
def ivm_stream_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from .diff import compute_changes_envelope
    from .ivm import deltas_from_envelope, refresh_aggregate
    from .queries import _cdc_snapshots
    from .streaming.windows import (
        foreach_batch_cdc, stage_microbatches, stream_events_from_dir,
    )

    t0, t1 = _cdc_snapshots(spark, sf_dir)
    grp = (F.col("pk") % 100).alias("grp")
    # persist the envelope across the two staged writes (r17): the
    # envelope is a full-outer snapshot join, and each staged batch is
    # a filter of it — unpersisted, the diff ran once PER batch write
    # (profile_streaming.json: staging was the largest phase of this
    # lane). The frame is change-feed-sized (O(changes), not O(corpus))
    # so the persist is bounded; released right after staging.
    env = (compute_changes_envelope(t1, t0, ["pk"]).select("*", grp)
           .persist())
    try:
        stage = _stage_dir("ivm_stream")
        k = stage_microbatches(
            [env.filter(c) for c in (F.col("pk") % 2 == 0,
                                     F.col("pk") % 2 == 1)], stage)
    finally:
        env.unpersist()

    state_root = _stage_dir("ivm_state")
    (t0.select("ts", grp).groupBy("grp")
     .agg(F.sum("ts").alias("sum_v"), F.count("*").cast("long").alias("n"),
          F.count("ts").cast("long").alias("nn"))
     .write.parquet(os.path.join(state_root, "v0")))
    latest = {"v": 0}

    def refresh(batch_df, batch_id):
        deltas = deltas_from_envelope(
            batch_df, ["grp"], "ts_before", "ts_after")
        state = spark.read.parquet(
            os.path.join(state_root, f"v{latest['v']}"))
        new_state = refresh_aggregate(state, deltas, ["grp"])
        new_state.write.parquet(
            os.path.join(state_root, f"v{latest['v'] + 1}"))
        latest["v"] += 1

    stream = stream_events_from_dir(spark, stage, env.schema,
                                    max_files_per_trigger=k)
    q = foreach_batch_cdc(stream, refresh, _stage_dir("ivm_ckpt"))
    q.awaitTermination()
    # nn (non-null counter) lives in the versioned state for SQL-exact
    # NULL semantics across refreshes; the served view drops it
    return (spark.read.parquet(os.path.join(state_root, f"v{latest['v']}"))
            .drop("nn"))


@register(
    "dedup_events_stream",
    # watermark-boundary mirror (r16 poison oracle sweep, verified
    # empirically): Spark's streaming dedup KEEPS NULL-event-time rows
    # (no event-time predicate applies to them) but DROPS a row whose
    # event time is at-or-below the stream's initial watermark
    # (epoch 0) as late — so a 1970-01-01T00:00:00 poison row never
    # reaches the state store even in the first micro-batch
    oracle="""SELECT event_id, ts, user_id FROM events
WHERE ts IS NULL OR ts > TIMESTAMP '1970-01-01 00:00:00'""",
    doc="Streaming exactly-once dedup: dropDuplicates with watermark-bounded "
        "state over a real Structured Streaming job; duplicated input "
        "micro-batches collapse back to the batch-distinct table (minus "
        "rows at-or-below the initial epoch-zero watermark, which the "
        "operator late-drops; NULL event times pass through)",
)
def dedup_events_stream_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import dedup_events_stream
    return dedup_events_stream(spark, sf_dir)


def _rp_lsh_oracle(dim: int = 64, planes: int = S.RP_PLANES,
                   bands: int = 2,
                   max_bucket_size: int | None = None) -> str:
    per_band = planes // bands
    cap = int(S._Q_DOMAIN * 1e6)
    bit_exprs = []
    for p in range(planes):
        signs = ", ".join(str(S.rp_sign(p, d, dim)) for d in range(dim))
        # mirrors the lane's defined quantization: NaN -> 0 and
        # saturation at +-_Q_DOMAIN*1e6 (_floor_long_sql handles the
        # NaN/overflow edges DuckDB's plain CAST crashes on)
        q = (f"greatest(least({_floor_long_sql('(x[1]*1e6)')}, {cap}), "
             f"-{cap})")
        bit_exprs.append(
            f"CASE WHEN list_sum(list_transform(list_zip(v, [{signs}]), "
            f"x -> {q} * x[2])) > 0 "
            f"THEN '1' ELSE '0' END AS bit{p}")
    bits = ",\n    ".join(bit_exprs)
    band_selects = []
    for b in range(bands):
        key = " || ".join(f"bit{b * per_band + i}" for i in range(per_band))
        band_selects.append(f"SELECT vec_id, {b} AS band, {key} AS bucket FROM bits")
    banded = "\nUNION ALL\n".join(band_selects)
    cap_cte, cap_join = "", ""
    if max_bucket_size is not None:
        cap_cte = f""",
ok AS (
  SELECT band, bucket FROM banded
  GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND {max_bucket_size}
)"""
        cap_join = "JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket"
    return f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}
),
bits AS (
  SELECT vec_id,
    {bits}
  FROM corpus
),
banded AS (
{banded}
){cap_cte}
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
FROM banded a
{cap_join}
JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
"""


@register(
    "dedup_embedding_lsh",
    oracle=_rp_lsh_oracle(max_bucket_size=256),
    doc="Random-hyperplane LSH near-dup candidates over embeddings — the "
        "bucketed 100 TB path for embedding dedup (map-only signatures, one "
        "band-bucket join). Integer-quantized sign bits make the buckets "
        "engine-exact; fixture plants an exact copy of every vector. "
        "max_bucket_size=256 drops degenerate buckets (a billion "
        "byte-identical failure-mode vectors would otherwise concentrate "
        "O(|b|^2) pair work in one task); the cap is mirrored in the "
        "oracle (HAVING count(*) BETWEEN 2 AND 256) so the check stays "
        "exact — the dedup_simhash_pairs pattern",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    base = emb.select("vec_id", "embedding")
    corpus = base.unionByName(
        base.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding"))
    return S.embedding_lsh_candidates(corpus, max_bucket_size=256)


def _rp_lsh_verified_oracle(dim: int = 64, threshold: float = 0.9,
                            max_bucket_size: int | None = None) -> str:
    base = _rp_lsh_oracle(dim, max_bucket_size=max_bucket_size)
    return f"""
WITH cands AS (
{base}
),
vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
quant AS (
  -- quantized_cosine_np's _Q_DOMAIN contract: an off-domain (NaN or
  -- |x| > 20) vector's cosine is NULL, which the >= threshold verify
  -- drops — expressed here as an inner-join absence; the filter also
  -- keeps DuckDB's BIGINT cast in range (it crashes on poison)
  SELECT vec_id, list_transform(v, x -> CAST(floor(x*1e6) AS BIGINT)) AS q
  FROM vecs
  WHERE v IS NOT NULL
    AND len(list_filter(v, x -> isnan(x) OR abs(x) > 20.0)) = 0
),
scored AS (
  SELECT c.id_a, c.id_b,
    CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1]*x[2])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(a.q, x -> x*x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(b.q, x -> x*x)) AS DOUBLE))) AS cos
  FROM cands c
  JOIN quant a ON a.vec_id = c.id_a
  JOIN quant b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= {threshold}
"""


@register(
    "dedup_embedding_lsh_verified",
    oracle=_rp_lsh_verified_oracle(max_bucket_size=256),
    doc="Full near-dup scale pattern: LSH candidate generation (degenerate "
        "buckets capped at 256, oracle-mirrored) -> exact cosine "
        "verification at threshold 0.9. Quantized-integer cosine is "
        "bit-identical across engines, so the float column itself is "
        "oracle-checked",
)
def dedup_embedding_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    base = emb.select("vec_id", "embedding")
    corpus = base.unionByName(
        base.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding"))
    return S.embedding_lsh_verified_pairs(corpus, max_bucket_size=256)


@register(
    "multimodal_features",
    oracle="""
SELECT doc_id AS id, 'image' AS media_type,
       octet_length(encode(COALESCE(text, ''))) AS n_bytes
FROM documents
""",
    doc="Multimodal plumbing: binary media column -> Arrow-batched "
        "mapInPandas feature extraction (deterministic fake extractor; "
        "payload byte counts are oracle-checked, the feature vectors by "
        "pytest)",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    media = MM.synthesize_media_table(spark, docs)
    return MM.extract_features(media).select("id", "media_type", "n_bytes")


@register(
    "multimodal_resize",
    oracle="""
SELECT doc_id AS id,
       CASE WHEN text IS NOT NULL THEN CAST(30 AS BIGINT) END AS n_bytes,
       64 AS width, 48 AS height,
       CASE WHEN text IS NULL THEN NULL
            -- md5 of 30 NUL bytes: fake_resize substitutes b'\\x00'
            -- for an empty payload before cycling
            WHEN length(text) = 0 THEN '862dec5c27142824a394bc6464928f48'
            ELSE md5(substr(repeat(text, CAST(30 / length(text) AS INTEGER)
                                   + 1), 1, 30)) END
         AS content_md5
FROM documents
""",
    doc="Multimodal resize: mapInPandas batch rewrite of the media "
        "payload to the 64x48 target (deterministic fake resize: payload "
        "cycled/truncated to width*height/100 bytes) with meta patched; "
        "byte count, patched dims, and payload md5 are oracle-checked",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    media = MM.synthesize_media_table(spark, docs)
    return MM.resize_media(media, 64, 48).select(
        "id",
        F.length("media").cast("long").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.md5("media").alias("content_md5"))


@register(
    "multimodal_frames",
    oracle="""
WITH base AS (
  -- len counts payload BYTES (the lane slices the utf-8 media
  -- payload); n derives from CHAR count (duration_ms = 40ms/char in
  -- the synthesizer's meta) — distinct on multibyte text
  SELECT doc_id AS id, octet_length(encode(COALESCE(text, ''))) AS len,
         greatest(1, (length(text) * 40) // 1000) AS n
  FROM documents
)
SELECT id,
       CAST(n AS BIGINT) AS n_frames,
       CAST((n - 1) * 1000 AS INTEGER) AS last_ts_ms,
       CAST(n * (COALESCE(len, 0) // n) AS BIGINT) AS total_frame_bytes
FROM base
""",
    doc="Multimodal frame sampling: per-video 1->N frame explode "
        "(mapInPandas) at 1 frame/sec over synthesized duration_ms = "
        "40ms/char; frame counts, last timestamp, and total sliced bytes "
        "are oracle-checked against the slicing arithmetic",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    media = MM.synthesize_media_table(spark, docs)
    frames = MM.sample_media_frames(media, every_ms=1000)
    return (frames.groupBy("id")
            .agg(F.count("*").alias("n_frames"),
                 F.max("ts_ms").alias("last_ts_ms"),
                 F.sum(F.length("frame")).alias("total_frame_bytes")))


@register(
    "multimodal_image_headers",
    oracle="""
SELECT doc_id AS id,
       CASE WHEN text IS NOT NULL THEN
         (CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'gif' END) END AS format,
       CASE WHEN text IS NOT NULL THEN
         CAST(length(text) % 1920 + 1 AS INTEGER) END AS width,
       CASE WHEN text IS NOT NULL THEN
         CAST(length(text) % 1080 + 1 AS INTEGER) END AS height
FROM documents
""",
    doc="Minimal-REAL image decode (metadata half, no image library): "
        "PNG IHDR / GIF89a container bytes are synthesized JVM-side "
        "(concat/unhex codegen, dims derived from text length), then "
        "parsed back by the pure-Python header parser in an Arrow "
        "mapInPandas batch (multimodal.parse_image_header). The oracle "
        "recomputes the dims "
        "arithmetically, so any encoder/parser disagreement on byte "
        "order, offsets, or signatures mismatches. Media bytes stay "
        "executor-side; the output is a 16-byte-row metadata frame",
)
def multimodal_image_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.image_header_metadata(MM.synthesize_image_table(docs))


@register(
    "multimodal_audio_headers",
    oracle="""
SELECT doc_id AS id,
       CASE WHEN text IS NOT NULL THEN 'wav' END AS format,
       CASE WHEN text IS NOT NULL THEN
         CAST(doc_id % 2 + 1 AS INTEGER) END AS channels,
       CASE WHEN text IS NOT NULL THEN
         CAST(8000 + (length(text) % 8) * 1000 AS INTEGER) END AS sample_rate,
       CASE WHEN text IS NOT NULL THEN
         CAST(length(text) * 1000 // (8000 + (length(text) % 8) * 1000)
              AS BIGINT) END AS duration_ms
FROM documents
""",
    doc="Minimal-real audio decode (metadata half): PCM WAV containers "
        "synthesized JVM-side (RIFF/fmt/data chunk layout, little-endian "
        "codegen byte assembly), then chunk-walked back by the pure-"
        "Python parser in an Arrow mapInPandas batch (multimodal."
        "parse_audio_header). Duration "
        "oracle uses the algebraic identity (len*block*1000) div "
        "(rate*block) = (len*1000) div rate, so parser and synthesizer "
        "must agree on every chunk field to match",
)
def multimodal_audio_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.audio_header_metadata(MM.synthesize_audio_table(docs))


@register(
    "multimodal_bmp_pixel_decode",
    oracle="""
SELECT doc_id AS id,
       CASE WHEN text IS NOT NULL THEN
         CAST(doc_id % 16 + 3 AS INTEGER) END AS width,
       CASE WHEN text IS NOT NULL THEN
         CAST(doc_id % 8 + 2 AS INTEGER) END AS height,
       CASE WHEN text IS NOT NULL THEN
         CAST((doc_id % 16 + 3) * (doc_id % 8 + 2) AS BIGINT) END AS n_px,
       CASE WHEN text IS NOT NULL THEN
         CAST((doc_id % 251) * (doc_id % 16 + 3) * (doc_id % 8 + 2)
              AS BIGINT) END AS sum_r,
       CASE WHEN text IS NOT NULL THEN
         CAST((length(text) % 253) * (doc_id % 16 + 3) * (doc_id % 8 + 2)
              AS BIGINT) END AS sum_g,
       CASE WHEN text IS NOT NULL THEN
         CAST(((doc_id + length(text)) % 255) * (doc_id % 16 + 3)
              * (doc_id % 8 + 2) AS BIGINT) END AS sum_b
FROM documents
""",
    doc="REAL pixel decode (the data half, no image library): solid-"
        "color 24-bit BMPs are synthesized JVM-side (hex-repeat/unhex "
        "codegen rows, 4-byte padding, BGR order; dims and RGB derive "
        "from document columns), then decoded back pixel-by-pixel by "
        "the pure-Python decoder in an Arrow mapInPandas batch "
        "(multimodal.parse_bmp_pixels). Exact integer channel sums "
        "have the closed form sum_c = c*w*h for a solid color, which "
        "the oracle recomputes — any disagreement on row padding, "
        "pixel order, or header offsets mismatches. PNG (zlib inflate "
        "+ scanline unfilter) shares the decode entry point and is "
        "covered by filter-exercising pytest fixtures",
)
def multimodal_bmp_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.image_pixel_stats(MM.synthesize_bmp_table(docs))


@register(
    "multimodal_wav_pcm_decode",
    oracle="""
SELECT doc_id AS id,
       CASE WHEN text IS NOT NULL THEN
         CAST(doc_id % 2 + 1 AS INTEGER) END AS channels,
       CASE WHEN text IS NOT NULL THEN
         CAST(8000 + (length(text) % 8) * 1000 AS INTEGER) END
           AS sample_rate,
       CASE WHEN text IS NOT NULL THEN
         CAST((length(text) % 50 + 1) * (doc_id % 2 + 1) AS BIGINT) END
           AS n_samples,
       CASE WHEN text IS NOT NULL THEN
         CAST((doc_id % 30000 + 1) * (doc_id % 30000 + 1)
              * (length(text) % 50 + 1) * (doc_id % 2 + 1) AS BIGINT) END
           AS sum_sq,
       CASE WHEN text IS NOT NULL THEN
         CAST(doc_id % 30000 + 1 AS INTEGER) END AS peak
FROM documents
""",
    doc="REAL PCM sample decode (the data half, no audio library): "
        "16-bit PCM WAVs with a constant per-document amplitude are "
        "synthesized JVM-side (hex-repeat sample data, little-endian "
        "chunk layout), then every sample is decoded back by the "
        "pure-Python decoder in an Arrow mapInPandas batch "
        "(multimodal.parse_wav_samples). The exact integer energy has "
        "the closed form sum_sq = a^2 * n and peak = a, which the "
        "oracle recomputes — sample byte order or data-chunk "
        "misalignment mismatches immediately",
)
def multimodal_wav_pcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.audio_sample_stats(MM.synthesize_pcm_wav_table(docs))


@register(
    "multimodal_jpeg_pixel_decode",
    oracle="""
SELECT doc_id AS id,
       CAST(doc_id % 21 + 4 AS INTEGER) AS width,
       CAST(doc_id % 13 + 4 AS INTEGER) AS height,
       CAST((doc_id % 21 + 4) * (doc_id % 13 + 4) AS BIGINT) AS n_px,
       CAST((doc_id % 256) * (doc_id % 21 + 4) * (doc_id % 13 + 4)
            AS BIGINT) AS sum_r,
       CAST((doc_id % 256) * (doc_id % 21 + 4) * (doc_id % 13 + 4)
            AS BIGINT) AS sum_g,
       CAST((doc_id % 256) * (doc_id % 21 + 4) * (doc_id % 13 + 4)
            AS BIGINT) AS sum_b
FROM documents
""",
    doc="REAL baseline JPEG decode, no image library: solid-grey "
        "baseline JPEGs (SOI/DQT/SOF0/DHT/SOS, canonical Huffman "
        "entropy coding with byte stuffing, DC prediction, EOB/ZRL "
        "run-length, float DCT) are encoded in mapInPandas and decoded "
        "back by the from-spec decoder (multimodal.parse_jpeg_pixels) "
        "which reads quant/Huffman tables from the file's own "
        "segments. Solid images are DC-only in every block, so the "
        "float DCT round-trips exactly and the oracle recomputes "
        "sum = grey * w * h in closed form; grey lands on all three "
        "channels like greyscale PNG. The entropy layer itself is "
        "lossless and separately pinned by coefficient-exact pytest",
)
def multimodal_jpeg_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.jpeg_pixel_stats_fused(docs)


@register(
    "multimodal_progressive_jpeg_decode",
    oracle="""
SELECT doc_id AS id,
       CAST(doc_id % 19 + 4 AS INTEGER) AS width,
       CAST(doc_id % 11 + 4 AS INTEGER) AS height,
       CAST((doc_id % 19 + 4) * (doc_id % 11 + 4) AS BIGINT) AS n_px,
       CAST(((doc_id * 7) % 256) * (doc_id % 19 + 4) * (doc_id % 11 + 4)
            AS BIGINT) AS sum_r,
       CAST(((doc_id * 7) % 256) * (doc_id % 19 + 4) * (doc_id % 11 + 4)
            AS BIGINT) AS sum_g,
       CAST(((doc_id * 7) % 256) * (doc_id % 19 + 4) * (doc_id % 11 + 4)
            AS BIGINT) AS sum_b
FROM documents
""",
    doc="REAL progressive JPEG decode (SOF2 — what libjpeg/browsers "
        "emit for most web JPEGs), from the T.81 Annex G spec with no "
        "image library: solid-grey images encoded through the "
        "libjpeg-style multi-scan script (DC first at reduced "
        "precision, AC band scans with EOBn run codes, successive-"
        "approximation refinements with correction bits) and decoded "
        "back by the in-repo multi-scan coefficient accumulator "
        "(multimodal._parse_progressive_jpeg). DC-only solid images "
        "round-trip the float DCT exactly, so the oracle recomputes "
        "sum = grey * w * h in closed form; the refinement bit "
        "semantics are pinned separately by a hand-derived byte "
        "fixture and baseline-equality pytest over random images",
)
def multimodal_progressive_jpeg_decode(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.progressive_jpeg_pixel_stats_fused(docs)


@register(
    "multimodal_gif_pixel_decode",
    oracle="""
WITH d AS (
  SELECT doc_id, COALESCE(length(text), 0) AS tl,
         doc_id % 14 + 2 AS w, doc_id % 9 + 2 AS h
  FROM documents
)
SELECT doc_id AS id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST((doc_id % 251) * ((w * h + 1) // 2)
            + ((doc_id * 3 + 7) % 256) * ((w * h) // 2) AS BIGINT) AS sum_r,
       CAST((tl % 253) * ((w * h + 1) // 2)
            + ((tl * 5 + 11) % 256) * ((w * h) // 2) AS BIGINT) AS sum_g,
       CAST(((doc_id + tl) % 255) * ((w * h + 1) // 2)
            + ((doc_id + 2 * tl) % 256) * ((w * h) // 2) AS BIGINT) AS sum_b
FROM d
""",
    doc="REAL GIF pixel decode, no image library: two-color "
        "checkerboards are LZW-compressed in mapInPandas "
        "(multimodal.encode_gif, giflib width schedule) and decoded "
        "back index-by-index by the pure-Python LZW decoder "
        "(parse_gif_pixels). The alternating indices force dictionary "
        "growth across code-width boundaries on every row — the exact "
        "bug class the r7 schedule fix addressed — and the channel "
        "sums have the closed form c0*ceil(n/2) + c1*floor(n/2) the "
        "oracle recomputes. Absolute schedule correctness is pinned "
        "separately by the hand-packed byte fixture in "
        "tests/fixtures/fuzz",
)
def multimodal_gif_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.image_pixel_stats(MM.synthesize_gif_table(docs))


@register(
    "multimodal_png_pixel_decode",
    oracle="""
SELECT doc_id AS id,
       CAST(doc_id % 15 + 2 AS INTEGER) AS width,
       CAST(doc_id % 10 + 2 AS INTEGER) AS height,
       CAST((doc_id % 15 + 2) * (doc_id % 10 + 2) AS BIGINT) AS n_px,
       CAST((doc_id % 249) * (doc_id % 15 + 2) * (doc_id % 10 + 2)
            AS BIGINT) AS sum_r,
       CAST(((doc_id + COALESCE(length(text), 0)) % 250) * (doc_id % 15 + 2)
            * (doc_id % 10 + 2) AS BIGINT) AS sum_g,
       CAST((COALESCE(length(text), 0) % 247) * (doc_id % 15 + 2) * (doc_id % 10 + 2)
            AS BIGINT) AS sum_b
FROM documents
""",
    doc="REAL PNG pixel decode through the registered gate (pytest "
        "already pins the five scanline filters; this puts the "
        "zlib-inflate + unfilter + truecolor path under the driver "
        "oracle too): solid-color truecolor PNGs with real IDAT "
        "deflate and real chunk CRCs are encoded in mapInPandas "
        "(multimodal.encode_png_rgb) and decoded back by "
        "parse_png_pixels; sum_c = c*w*h in closed form",
)
def multimodal_png_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.image_pixel_stats(MM.synthesize_png_pixel_table(docs))


@register(
    "multimodal_g711_audio_decode",
    oracle="""
WITH d AS (
  SELECT doc_id, text IS NULL AS tnull, length(text) % 40 + 1 AS n,
         xor(doc_id % 256, 85) AS a
  FROM documents
), m AS (
  SELECT doc_id, tnull, n,
         CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
              ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1))
         END AS mag
  FROM d
)
SELECT doc_id AS id,
       CASE WHEN NOT tnull THEN CAST(1 AS INTEGER) END AS channels,
       CASE WHEN NOT tnull THEN
         CAST(8000 + (doc_id % 5) * 1000 AS INTEGER) END AS sample_rate,
       CASE WHEN NOT tnull THEN CAST(n AS BIGINT) END AS n_samples,
       CASE WHEN NOT tnull THEN CAST(mag * mag * n AS BIGINT) END AS sum_sq,
       CASE WHEN NOT tnull THEN CAST(mag AS INTEGER) END AS peak
FROM m
""",
    doc="REAL G.711 A-law decode (format tag 6): WAVs whose every "
        "compressed byte is doc_id % 256 are synthesized JVM-side "
        "(hex-repeat codegen, tag-6 fmt chunk) and expanded "
        "sample-by-sample by the pure-arithmetic spec expansion "
        "(multimodal._alaw_to_linear). A-law expansion is xor 0x55, "
        "3-bit exponent segment, 4-bit mantissa — pure integer "
        "arithmetic the oracle recomputes literally, so a single "
        "wrong bit in the expander (sign convention, bias, segment "
        "shift) mismatches every row",
)
def multimodal_g711_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.audio_sample_stats(MM.synthesize_alaw_wav_table(docs))


@register(
    "multimodal_adpcm_audio_decode",
    oracle="""
SELECT doc_id AS id,
       CASE WHEN text IS NOT NULL THEN CAST(1 AS INTEGER) END AS channels,
       CASE WHEN text IS NOT NULL THEN CAST(8000 AS INTEGER) END
         AS sample_rate,
       CASE WHEN text IS NOT NULL THEN
         CAST((length(text) % 24 + 1) * 2 + 1 AS BIGINT) END AS n_samples,
       CASE WHEN text IS NOT NULL THEN
         CAST((doc_id % 30001 - 15000) * (doc_id % 30001 - 15000)
              * ((length(text) % 24 + 1) * 2 + 1) AS BIGINT) END AS sum_sq,
       CASE WHEN text IS NOT NULL THEN
         CAST(abs(doc_id % 30001 - 15000) AS INTEGER) END AS peak
FROM documents
""",
    doc="REAL IMA ADPCM decode (format tag 0x11) through the "
        "registered gate: one-block WAVs whose signed 16-bit header "
        "predictor varies per document and whose nibbles are all zero "
        "(nibble 0 at step index 0 adds 7>>3 = 0, so every decoded "
        "sample equals the predictor EXACTLY — closed form, yet the "
        "state machine still walks every nibble, honors the signed "
        "header, block_samples, and the index clamp). The adaptive "
        "step/index tables are separately pinned by the codec pytest",
)
def multimodal_adpcm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.audio_sample_stats(MM.synthesize_adpcm_wav_table(docs))


@register(
    "multimodal_flac_audio_decode",
    oracle="""
WITH d AS (
  SELECT doc_id,
         COALESCE(length(text), 0) % 40 + 20 AS n,
         doc_id % 1001 - 500 AS b
  FROM documents
)
SELECT doc_id AS id,
       CAST(1 AS INTEGER) AS channels,
       CAST(16000 AS INTEGER) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * b * b + b * n * (n - 1)
            + (n - 1) * n * (2 * n - 1) // 6 AS BIGINT) AS sum_sq,
       CAST(greatest(abs(b), abs(b + n - 1)) AS INTEGER) AS peak
FROM d
""",
    doc="REAL FLAC decode from the public spec (RFC 9639), no audio "
        "library — the format speech corpora actually ship "
        "(LibriSpeech & co): per-document linear ramps are compressed "
        "by the in-repo encoder through a genuine FIXED-predictor + "
        "Rice-residual path (ramp residuals are constant, so the "
        "stream is truly entropy-coded, not verbatim) and decoded "
        "back sample-exactly by multimodal.parse_flac_samples "
        "(CRC-8/CRC-16 verified per frame). FLAC is lossless, so the "
        "aggregates equal the source PCM's and the oracle recomputes "
        "them in closed form: sum of (b+i)^2 and the ramp-end peak. "
        "LPC subframes and stereo decorrelation are pinned by pytest "
        "and a hand-derived byte fixture",
)
def multimodal_flac_audio_decode(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.flac_sample_stats_fused(docs)


@register(
    "multimodal_mjpeg_frame_sample",
    oracle="""
WITH d AS (
  SELECT doc_id, doc_id % 9 + 8 AS w, doc_id % 7 + 8 AS h,
         doc_id % 4 + 1 AS nf
  FROM documents
)
SELECT doc_id AS id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(((doc_id + 31 * i) % 256) * w * h AS BIGINT) AS sum_grey
FROM d, unnest(generate_series(0, nf - 1)) AS t(i)
""",
    doc="REAL video frame sampling through the registered gate: MJPEG "
        "AVIs (doc_id%4+1 solid-grey baseline JPEG frames in a RIFF "
        "container at 10 fps) are built in mapInPandas and run through "
        "the real pipeline — RIFF walk -> avih-timed frame selection "
        "(every_ms=100 samples every frame) -> per-frame baseline JPEG "
        "decode (multimodal.mjpeg_frame_stats_fused). DC-only frames "
        "decode exactly, so each sampled frame's sum has the closed form "
        "grey_i * w * h the oracle recomputes via generate_series",
)
def multimodal_mjpeg_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.mjpeg_frame_stats_fused(docs, every_ms=100)


@register(
    "multimodal_y4m_pixel_decode",
    oracle="""
WITH d AS (
  SELECT doc_id, doc_id % 6 * 2 + 8 AS w, doc_id % 5 * 2 + 8 AS h,
         doc_id % 3 + 1 AS nf
  FROM documents
)
SELECT doc_id AS id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(((5 * doc_id + 17 * i) % 220 + 16) * w * h AS BIGINT) AS sum_y,
       CAST(((3 * doc_id + 29 * i) % 225 + 16) * (w // 2) * (h // 2)
         AS BIGINT) AS sum_u,
       CAST(((7 * doc_id + 41 * i) % 225 + 16) * (w // 2) * (h // 2)
         AS BIGINT) AS sum_v
FROM d, unnest(generate_series(0, nf - 1)) AS t(i)
""",
    doc="REAL raw-video decode: YUV4MPEG2 streams (doc_id%3+1 solid "
        "4:2:0 frames, even dims) synthesized in mapInPandas and pulled "
        "apart by the pure-Python Y4M parser — ASCII parameter line, "
        "FRAME-delimited planar slicing, numpy per-plane sums "
        "(multimodal.y4m_frame_stats). The uncompressed I/O-bound "
        "sibling of the MJPEG lane: no entropy coding, so plane sums "
        "have the exact closed forms fill*plane_size the oracle "
        "recomputes per frame via generate_series",
)
def multimodal_y4m_pixel_decode(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.y4m_frame_stats_fused(docs)


@register(
    "multimodal_video_headers",
    oracle="""
SELECT doc_id AS id,
       CASE WHEN text IS NOT NULL THEN 'mp4' END AS format,
       CASE WHEN text IS NOT NULL THEN
         CAST(length(text) % 1280 + 1 AS INTEGER) END AS width,
       CASE WHEN text IS NOT NULL THEN
         CAST(length(text) % 720 + 1 AS INTEGER) END AS height,
       CASE WHEN text IS NOT NULL THEN
         CAST(length(text) * 25 * 1000 // (500 + doc_id % 500) AS BIGINT)
         END AS duration_ms
FROM documents
""",
    doc="Minimal-real video decode (metadata half, completing the "
        "image/audio/video triple): ISO-BMFF ftyp+moov[mvhd+trak[tkhd]] "
        "containers synthesized JVM-side (big-endian codegen byte "
        "assembly, every box size matching its bytes), then box-tree-"
        "walked back by the pure-Python parser in an Arrow mapInPandas "
        "batch (multimodal.parse_video_header). Movie timescale varies "
        "per doc and tick "
        "duration with text length, so duration_ms = ticks*1000 div "
        "timescale only matches if parser and synthesizer agree on "
        "every mvhd field; dims round-trip through 16.16 fixed point",
)
def multimodal_video_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import multimodal as MM
    docs = _t(spark, sf_dir, "documents")["documents"]
    return MM.video_header_metadata(MM.synthesize_video_table(docs))


# -- training-data prep: chunking, quantization, event feature windows -------

@register(
    "doc_chunking",
    oracle="""
WITH d AS (
  SELECT doc_id, text,
         greatest(1, CAST(ceil((length(text) - 50) / 150.0) AS INT)) AS n_chunks
  FROM documents
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_id,
       substring(text, CAST(i AS INT) * 150 + 1, 200) AS chunk,
       n_chunks,
       length(substring(text, CAST(i AS INT) * 150 + 1, 200)) AS chunk_chars
FROM d, unnest(generate_series(0, n_chunks - 1)) AS t(i)
""",
    doc="Document chunking for training-data prep: 200-char windows "
        "with 50-char overlap (stride 150), ceil((chars-overlap)/stride) "
        "chunks per doc. Pure map-stage explode — no shuffle, no UDF; "
        "the boundary division runs in exact IEEE double on small ints "
        "so both engines cut identical chunks",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.chunk_documents(_t(spark, sf_dir, "documents")["documents"],
                              chunk_size=200, overlap=50)


@register(
    "embedding_quantize",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         CAST(len(embedding) AS INT) AS dim,
         list_transform(embedding, v ->
           greatest(CAST(-127 AS BIGINT),
                    least(CAST(127 AS BIGINT),
                          {_floor_long_sql('(CAST(v AS DOUBLE) * 100)')}))) AS qv,
         list_transform(embedding, v ->
           {_floor_long_sql('(CAST(v AS DOUBLE) * 100)')}) AS rv
  FROM embeddings
)
SELECT vec_id, dim,
       list_min(qv) AS qmin,
       list_max(qv) AS qmax,
       CASE WHEN qv IS NULL THEN NULL
            ELSE COALESCE(CAST(list_sum(qv) AS BIGINT), 0) END AS qsum,
       CAST(len(list_filter(rv, v -> v < -127 OR v > 127)) AS BIGINT) AS n_clipped
FROM q
""",
    doc="Int8 embedding quantization (fixed scale 100, floor — round() "
        "is half-even in Spark and half-away in DuckDB so a rounding "
        "quantizer would disagree on .5 boundaries): per-vector "
        "qmin/qmax/qsum/clip-count summary. Pure projection, no shuffle",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return S.quantize_embeddings_int8(emb, scale=100)


@register(
    "events_lead_lag",
    oracle="""
SELECT event_id, user_id,
       epoch_ms(ts) - epoch_ms(lag(ts) OVER w) AS gap_prev_ms,
       epoch_ms(lead(ts) OVER w) - epoch_ms(ts) AS gap_next_ms,
       lag(event_type) OVER w AS prev_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
""",
    doc="Per-user event gap features (lead/lag window functions): ms "
        "since previous and until next event plus previous event type — "
        "the feature-engineering shape for behavioral training data. "
        "One hash-shuffle on user_id; the sort is per-partition within "
        "the window, and ties break on event_id so ordering is total",
)
def events_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    events = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    prev_ms = F.unix_millis(F.lag("ts").over(w).cast("timestamp"))
    next_ms = F.unix_millis(F.lead("ts").over(w).cast("timestamp"))
    return events.select(
        "event_id", "user_id",
        (ms - prev_ms).alias("gap_prev_ms"),
        (next_ms - ms).alias("gap_next_ms"),
        F.lag("event_type").over(w).alias("prev_type"))


@register(
    "orders_moving_avg",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(sum(TRY_CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
       CAST(sum(TRY_CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS moving3_spend
FROM orders
""",
    doc="Frame-bounded window aggregates: per-customer running total and "
        "3-row moving spend (ROWS frames — the cumulative and sliding "
        "forms). Accumulation is exact DECIMAL inside the frame, cast "
        "to double per row, so frame order can't perturb bits; one "
        "hash-shuffle on o_custkey serves both windows",
)
def orders_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    orders = _t(spark, sf_dir, "orders")["orders"]
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # try_cast: the r9 poison discipline (one corrupt price NULLs out
    # instead of killing the window job under ANSI)
    price = F.col("o_totalprice").try_cast("decimal(18,2)")
    return orders.select(
        "o_orderkey", "o_custkey",
        F.sum(price).over(base.rowsBetween(Window.unboundedPreceding, 0))
         .cast("double").alias("running_spend"),
        F.sum(price).over(base.rowsBetween(-2, 0))
         .cast("double").alias("moving3_spend"))


@register(
    "sketch_hll_registers",
    oracle=f"""
WITH h AS (
  SELECT {_md5h32_sql('CAST(user_id AS VARCHAR)')} AS h FROM events
),
built AS (
  SELECT h % 256 AS register_id,
         max(CASE WHEN h // 256 = 0 THEN 25
                  ELSE 25 - length(bin(h // 256)) END) AS max_rho
  FROM h GROUP BY h % 256
)
SELECT t.register_id, CAST(COALESCE(b.max_rho, 0) AS INT) AS max_rho
FROM generate_series(0, 255) AS t(register_id)
LEFT JOIN built b ON b.register_id = t.register_id
""",
    doc="HyperLogLog register sketch over event users: the 256-row "
        "register table IS the result — exact integers (register id, "
        "max leading-zero rank), mergeable across shards by pairwise "
        "max, built in one groupBy whose map-side partial max ships "
        "~256 rows per partition regardless of input size. The float "
        "estimate is left to the consumer, so no summation-order float "
        "ever enters the distributed plan",
)
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import sketch as SK
    events = _t(spark, sf_dir, "events")["events"]
    return SK.hll_registers(events, "user_id", m=256)


def _bloom_pos_sql(expr: str, j: int, m: int) -> str:
    h1 = _md5h32_sql(expr)
    h2 = f"CAST('0x' || substr(md5({expr}), 9, 8) AS BIGINT)"
    return f"(({h1}) + {j} * ({h2})) % {m}"


def _bloom_oracle(m: int = 8192, k: int = 5) -> str:
    build_pos = ",\n    ".join(
        _bloom_pos_sql("CAST(o_custkey AS VARCHAR)", j, m) for j in range(k))
    probe_pos = ",\n    ".join(
        _bloom_pos_sql("CAST(c_custkey AS VARCHAR)", j, m) for j in range(k))
    return f"""
WITH bits AS (
  SELECT DISTINCT pos AS bit_position
  FROM (SELECT unnest([{build_pos}]) AS pos
        FROM orders WHERE o_custkey % 2 = 0)
),
probe AS (
  SELECT c_custkey, unnest([{probe_pos}]) AS pos
  FROM customer
),
hits AS (
  SELECT p.c_custkey, count(b.bit_position) AS n_hits
  FROM probe p LEFT JOIN bits b ON b.bit_position = p.pos
  GROUP BY p.c_custkey
)
SELECT c_custkey, n_hits = {k} AS might_contain
FROM hits
"""


@register(
    "sketch_bloom_membership",
    oracle=_bloom_oracle(),
    doc="Bloom-filter build + probe: the distinct-bit-position table "
        "built from even-custkey orders (mergeable by union+distinct, "
        "<= m rows at any input size) probed by every customer — "
        "might_contain = all k double-hashed positions set. No false "
        "negatives by construction; false positives are DETERMINISTIC "
        "given (m, k, corpus), so the oracle reproduces them exactly "
        "from the same md5 arithmetic",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import sketch as SK
    t = _t(spark, sf_dir, "orders", "customer")
    bits = SK.bloom_bits(
        t["orders"].filter(F.col("o_custkey") % 2 == 0), "o_custkey")
    return SK.bloom_might_contain(
        bits, t["customer"].select("c_custkey"), "c_custkey")


# -- training-data prep: contamination / packing / frequency sketch ----------

_CONTAM_FIXTURE_SQL = f"""
b AS (
  SELECT doc_id, text,
         {_md5h32_sql('CAST(doc_id AS VARCHAR)')} % 100 AS bucket
  FROM documents
),
train AS (
  SELECT doc_id, text FROM b WHERE bucket < 80
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         substr(text, strpos(text, ' ') + 1) AS text
  FROM b WHERE bucket >= 90 AND doc_id % 10 = 0
),
test AS (SELECT doc_id, text FROM b WHERE bucket >= 90)
"""

_CONTAM_SHINGLE_SQL = """
tw AS (SELECT doc_id, string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS w FROM train),
ew AS (SELECT doc_id, string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS w FROM test),
sh_t AS (
  SELECT DISTINCT doc_id AS train_id, array_to_string(w[i:i+3], ' ') AS gram
  FROM tw, unnest(generate_series(1, len(w) - 3)) AS t(i) WHERE len(w) >= 4
),
sh_e AS (
  SELECT DISTINCT doc_id AS eval_id, array_to_string(w[i:i+3], ' ') AS gram
  FROM ew, unnest(generate_series(1, len(w) - 3)) AS t(i) WHERE len(w) >= 4
)
"""


def _contam_fixture(spark: SparkSession, sf_dir: str):
    docs = _t(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    split = TX.hash_split(docs)
    leak = (split.filter((F.col("bucket") >= 90) & (F.col("doc_id") % 10 == 0))
            .select((F.col("doc_id") + 3000000).alias("doc_id"),
                    F.expr("substring(text, instr(text, ' ') + 1)")
                     .alias("text")))
    train = (split.filter(F.col("bucket") < 80).select("doc_id", "text")
             .unionByName(leak))
    test = split.filter(F.col("bucket") >= 90).select("doc_id", "text")
    return train, test


@register(
    "decontaminate_splits",
    oracle=f"""
WITH {_CONTAM_FIXTURE_SQL},
{_CONTAM_SHINGLE_SQL}
SELECT t.train_id, e.eval_id, count(*) AS n_common_grams
FROM sh_t t JOIN sh_e e ON t.gram = e.gram
GROUP BY t.train_id, e.eval_id
HAVING count(*) >= 3
""",
    doc="Train/eval contamination detector over a planted-leak fixture "
        "(every 10th test doc re-enters train with its first word "
        "dropped): cross-split pairs sharing >= 3 distinct word "
        "4-grams. The eval side is benchmark-sized by nature, so its "
        "shingle table broadcasts and the check is a map-side join "
        "over the train scan — no train-shingle shuffle at 100 TB",
)
def decontaminate_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, test = _contam_fixture(spark, sf_dir)
    return D.contamination_pairs(train, test, n=4, min_common=3)


@register(
    "sequence_packing",
    oracle="""
WITH toks AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
),
c AS (
  SELECT *, CAST(COALESCE(sum(n_tok) OVER (
      PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM toks WHERE n_tok > 0
)
SELECT shard, seq_id, doc_id,
       greatest(seq_id * 64, cum_before) - seq_id * 64 AS seq_offset,
       least((seq_id + 1) * 64, cum_before + n_tok)
         - greatest(seq_id * 64, cum_before) AS tok_len
FROM c, unnest(generate_series(cum_before // 64,
                               (cum_before + n_tok - 1) // 64)) AS t(seq_id)
""",
    doc="GPT-style sequence packing (concat docs in id order, cut "
        "every 64 tokens, zero pad waste): one row per document x "
        "sequence span; long docs split across sequences. Sharded by "
        "pmod(id, 8) so each shard packs under an independent "
        "partitioned window — the global-order prefix sum that would "
        "serialize into one sort task never exists; at 100 TB shards "
        "scale to cluster cores. Integer-only arithmetic, so the "
        "packing is bit-identical across engines",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return TX.pack_sequences(docs, budget=64, shards=8)


def _cms_oracle(w: int = 1024, d: int = 4) -> str:
    h1 = _md5h32_sql("CAST(user_id AS VARCHAR)")
    h2 = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8) AS BIGINT)"
    build = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS depth, (({h1}) + {j} * ({h2})) % {w} AS pos FROM events"
        for j in range(d))
    probe = "\n  UNION ALL\n".join(
        f"  SELECT user_id, {j} AS depth, (({h1}) + {j} * ({h2})) % {w} AS pos"
        f" FROM probes" for j in range(d))
    return f"""
WITH cells AS (
{build}
),
counts AS (SELECT depth, pos, count(*) AS cnt FROM cells GROUP BY depth, pos),
probes AS (SELECT DISTINCT user_id FROM events),
pcells AS (
{probe}
)
SELECT p.user_id AS probe_value, min(COALESCE(c.cnt, 0)) AS est_count
FROM pcells p LEFT JOIN counts c ON c.depth = p.depth AND c.pos = p.pos
GROUP BY p.user_id
"""


@register(
    "sketch_cms_frequency",
    oracle=_cms_oracle(),
    doc="Count-Min sketch build + probe over event users: the d x w "
        "counter grid (mergeable by union+sum, <= 4096 rows at any "
        "input size) probed for every distinct user — est = min over "
        "the 4 double-hashed cells, >= true count by construction, "
        "and DETERMINISTIC given (w, d, corpus) so the oracle "
        "reproduces every collision-inflated estimate exactly from "
        "the same md5 arithmetic",
)
def sketch_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import sketch as SK
    events = _t(spark, sf_dir, "events")["events"]
    counts = SK.cms_counts(events, "user_id")
    probes = events.select("user_id").distinct()
    return SK.cms_estimate(counts, probes, "user_id")


# -- round 4: repetition quality, PII, boilerplate chunks, mixture weights ----

@register(
    "quality_repetition",
    oracle="""
WITH W AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
B AS (
  SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct, w
  FROM W WHERE len(w) >= 2
),
I AS (
  SELECT doc_id, n_tokens, n_distinct, w,
         unnest(generate_series(1, n_tokens - 1)) AS i
  FROM B
),
G AS (
  SELECT doc_id, n_tokens, n_distinct, w[i] || ' ' || w[i + 1] AS bg FROM I
),
C AS (
  SELECT doc_id, n_tokens, n_distinct, bg, count(*) AS c
  FROM G GROUP BY doc_id, n_tokens, n_distinct, bg
),
A AS (
  SELECT doc_id, n_tokens, n_distinct, max(c) AS top_bigram_count
  FROM C GROUP BY doc_id, n_tokens, n_distinct
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_token_ratio,
       top_bigram_count,
       round(CAST(top_bigram_count AS DOUBLE) / (n_tokens - 1), 6) AS top_bigram_frac,
       (round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) <= 0.75
        AND round(CAST(top_bigram_count AS DOUBLE) / (n_tokens - 1), 6) <= 0.10)
         AS passes
FROM A
""",
    doc="Gopher-style repetition quality gate (duplicate-token ratio + "
        "top-bigram fraction, word-level analogues of Rae et al. A1.1's "
        "duplicate-line metrics): token stats are array expressions, the "
        "top bigram is one explode + one aggregation whose keys carry the "
        "doc stats — no join, two map-side-combined shuffles",
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    out = TX.repetition_metrics(docs)
    return out.withColumn("top_bigram_count",
                          F.col("top_bigram_count").cast("long"))


_PII_SEED_SQL = """
seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' reach user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +1-555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS text
  FROM documents
)
"""


@register(
    "pii_redaction",
    oracle=f"""
WITH {_PII_SEED_SQL}
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '\\+1-555-[0-9]{{4}}')) AS BIGINT)
         AS n_phones,
       regexp_replace(
         regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
         '\\+1-555-[0-9]{{4}}', '<PHONE>', 'g') AS redacted
FROM seeded
""",
    doc="PII detection + masking over a deterministically seeded corpus "
        "(every third doc gains an email + phone, built identically in "
        "both engines): RE2-compatible patterns so Java regex and RE2 "
        "scrubbers agree; pure codegen projection, no shuffle",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    seeded = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"),
                        F.lit(" reach user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com or +1-555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0")))
         .otherwise(F.col("text")).alias("text"))
    return TX.pii_redact(seeded)


@register(
    "chunk_dedup_boilerplate",
    oracle="""
WITH W AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
N AS (
  SELECT doc_id, w, (len(w) + 1) // 2 AS n_chunks FROM W
),
inst AS (
  SELECT doc_id,
         array_to_string(w[i * 2 + 1 : i * 2 + 2], ' ') AS chunk
  FROM N, unnest(generate_series(0, n_chunks - 1)) AS t(i)
),
freq AS (
  SELECT chunk, count(*) AS doc_freq
  FROM (SELECT DISTINCT chunk, doc_id FROM inst)
  GROUP BY chunk
)
SELECT i.doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN f.doc_freq > 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(sum(CASE WHEN f.doc_freq <= 2
                THEN len(string_split(i.chunk, ' ')) ELSE 0 END) AS BIGINT)
         AS n_tokens_kept
FROM inst i JOIN freq f ON f.chunk = i.chunk
GROUP BY i.doc_id
""",
    doc="C4-style cross-document boilerplate removal (Raffel et al. "
        "2020 drop spans occurring in multiple docs; unit here is a "
        "2-token window): chunking is an array expression, doc "
        "frequency one distinct + count on the chunk key, join back "
        "chunk-keyed, rollup doc-keyed — token-shaped shuffles only, "
        "nothing quadratic",
)
def chunk_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return D.common_chunk_stats(docs, chunk_tokens=2, max_doc_freq=2)


@register(
    "mixture_weights_lang",
    oracle="""
WITH c AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
),
p AS (
  SELECT lang, n_docs,
         CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS p,
         pow(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 0.5) AS pa
  FROM c
)
SELECT lang, n_docs, round(p, 6) AS p,
       round(pa / sum(pa) OVER (), 6) AS q,
       round(pa / sum(pa) OVER () / p, 6) AS weight
FROM p
""",
    doc="Temperature-based domain mixture weights (XLM-R/mT5 "
        "alpha-sampling, alpha=0.5): q proportional to p^alpha, weight "
        "= q/p is the duplication factor per language. One map-side-"
        "combined groupBy plus two single-row broadcast joins — the "
        "oracle's windows are over the tiny domain frame only",
)
def mixture_weights_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return TX.mixture_weights(docs, by="lang", alpha=0.5)


@register(
    "quality_unigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
v AS (
  SELECT tok, count(*) AS tf FROM tok GROUP BY tok
),
n AS (
  SELECT CAST(sum(tf) AS DOUBLE) AS n FROM v
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(-avg(ln(CAST(v.tf AS DOUBLE)) - ln(n.n)), 6) AS avg_neg_logprob
FROM tok t JOIN v ON v.tok = t.tok CROSS JOIN n
GROUP BY t.doc_id
""",
    doc="CCNet-style LM quality proxy (Wenzek et al. 2020): per-doc "
        "average negative log-prob under the corpus unigram model. One "
        "token explode feeds both the vocab aggregation and the scoring "
        "join; AQE broadcasts the collapsed vocab side at runtime (no "
        "forced hint, so an over-large vocab degrades to a shuffle join "
        "instead of a driver OOM)",
)
def quality_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return TX.unigram_logprob(docs)


@register(
    "token_length_histogram",
    oracle="""
SELECT (len(string_split(text, ' ')) // 16) * 16 AS bucket_lo,
       (len(string_split(text, ' ')) // 16) * 16 + 15 AS bucket_hi,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
""",
    doc="Sequence-length histogram (the distribution a pipeline sizes "
        "packing budget and truncation policy from): one projection + "
        "one bucket-cardinality aggregation, map-side combined",
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return TX.token_length_histogram(docs, bucket_width=16)


@register(
    "sketch_quantile_histogram",
    oracle=f"""
WITH h AS (
  SELECT greatest(0, least(127,
           {_floor_long_sql('((o_totalprice - 0.0) * 128 / 600000.0)')}))
           AS bin,
         count(*) AS cnt
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
),
c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM h),
n AS (SELECT max(cum) AS n FROM c),
qs(q) AS (VALUES (0.25), (0.5), (0.9), (0.99)),
-- LEFT JOIN from qs: each requested quantile yields a row even over
-- an EMPTY sketch (estimate NULL — quantile of nothing), matching the
-- lane's explode-of-requested-qs shape (r15 empty-fixture sweep)
e AS (
  SELECT q, min(CASE WHEN cum >= ceil(n * q) THEN bin END) AS b
  FROM qs LEFT JOIN (SELECT * FROM c CROSS JOIN n) ON TRUE GROUP BY q
)
SELECT CAST(q AS DOUBLE) AS q,
       round(0.0 + (b + 1) * (600000.0 / 128), 6) AS estimate
FROM e
""",
    doc="Histogram quantile sketch (equi-width, mergeable union+sum "
        "like CMS/HLL/bloom): constant-size shuffle regardless of "
        "input, CDF walk over the <=128-row sketch frame, estimates "
        "within one bin width of exact — the fixed-memory alternative "
        "to a global sort at 100 TB",
)
def sketch_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import sketch as SK
    orders = _t(spark, sf_dir, "orders")["orders"]
    hist = SK.quantile_histogram(orders, "o_totalprice",
                                 lo=0.0, hi=600000.0, bins=128)
    return SK.quantile_estimate(hist, [0.25, 0.5, 0.9, 0.99],
                                lo=0.0, hi=600000.0, bins=128)


@register(
    "events_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id
)
SELECT 'view' AS step, CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
UNION ALL
SELECT 'click', CAST((SELECT count(*) FROM c) AS BIGINT)
UNION ALL
SELECT 'purchase', CAST((SELECT count(*) FROM p) AS BIGINT)
""",
    doc="Ordered conversion funnel (view -> click after it -> purchase "
        "after that), the event-analytics staple: each stage is one "
        "user-keyed min aggregation + one join against the (shrinking) "
        "prior stage — AQE broadcasts the survivors, shuffles stay "
        "user-keyed and map-side combined; no window over all events",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (ev.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("ts") >= F.col("t_view"))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") >= F.col("t_click"))
         .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    rows = [v.agg(F.lit("view").alias("step"),
                  F.count("*").cast("long").alias("n_users")),
            c.agg(F.lit("click").alias("step"),
                  F.count("*").cast("long").alias("n_users")),
            p.agg(F.lit("purchase").alias("step"),
                  F.count("*").cast("long").alias("n_users"))]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "orders_retention_cohorts",
    oracle="""
WITH first_order AS (
  SELECT o_custkey, min(o_orderdate) AS first_dt
  FROM orders GROUP BY o_custkey
)
SELECT strftime(f.first_dt, '%Y-%m') AS cohort_month,
       CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate))
            - (year(f.first_dt) * 12 + month(f.first_dt)) AS INT)
         AS month_offset,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
FROM orders o JOIN first_order f ON f.o_custkey = o.o_custkey
GROUP BY 1, 2
""",
    doc="Retention cohort matrix: customers bucketed by first-order "
        "month, counted per months-since-first offset. One customer-"
        "keyed min, a customer-keyed join back, and one exact "
        "count-distinct aggregation; the cohort key is integer month "
        "arithmetic so both engines bucket identically",
)
def orders_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    first = (orders.groupBy("o_custkey")
             .agg(F.min("o_orderdate").alias("first_dt")))
    months = lambda col: F.year(col) * 12 + F.month(col)  # noqa: E731
    return (
        orders.join(first, "o_custkey")
        .groupBy(F.date_format("first_dt", "yyyy-MM").alias("cohort_month"),
                 (months(F.col("o_orderdate")) - months(F.col("first_dt")))
                 .cast("int").alias("month_offset"))
        .agg(F.countDistinct("o_custkey").cast("long").alias("n_customers"))
    )


@register(
    "skew_key_profile",
    oracle="""
WITH per_key AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(max(cnt) AS BIGINT) AS max_cnt
  FROM per_key
)
SELECT p.user_id, CAST(p.cnt AS BIGINT) AS cnt,
       round(p.cnt * 1.0 / t.n_rows, 6) AS share,
       round(p.cnt * t.n_keys * 1.0 / t.n_rows, 4) AS skew_factor
FROM per_key p CROSS JOIN tot t
ORDER BY p.cnt DESC, p.user_id LIMIT 10
""",
    doc="Hot-key profiler: the top-10 heaviest join/shuffle keys with "
        "their row share and skew factor (count / mean-count) — the "
        "diagnostic that decides whether a key needs salting "
        "(skew.salted_join) or AQE skew-join handles it. One "
        "map-side-combined groupBy, a single-row totals frame joined "
        "by broadcast cross, TakeOrdered top-k — the table never "
        "funnels through one task",
)
def skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")["events"]
    per_key = events.groupBy("user_id").agg(F.count("*").alias("cnt"))
    tot = per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"))
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select("user_id", F.col("cnt").cast("long").alias("cnt"),
                F.round(F.col("cnt") / F.col("n_rows"), 6).alias("share"),
                F.round(F.col("cnt") * F.col("n_keys") / F.col("n_rows"), 4)
                 .alias("skew_factor"))
        .orderBy(F.col("cnt").desc(), "user_id").limit(10)
    )


@register(
    "events_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS next_type
  FROM events
)
SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type),
             6) AS p
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
    doc="Event path analytics: per-user next-event transitions (lead "
        "over the (ts, event_id) total order) rolled into a first-order "
        "Markov transition matrix with row-normalized probabilities. "
        "One user-keyed window shuffle + one state-pair groupBy; the "
        "matrix is |event_types|^2 rows, so the normalizing window runs "
        "over a constant-sized frame",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")["events"]
    seq = events.select(
        "event_type",
        F.lead("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id"))
         .alias("next_type"))
    counts = (seq.filter(F.col("next_type").isNotNull())
              .groupBy("event_type", "next_type")
              .agg(F.count("*").cast("long").alias("n")))
    return counts.select(
        "event_type", "next_type", "n",
        F.round(F.col("n") / F.sum("n").over(
            Window.partitionBy("event_type")), 6).alias("p"))


@register(
    "orders_spend_trend",
    oracle="""
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(regr_slope(o_totalprice,
             date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)), 6)
         AS slope_per_day,
       round(regr_intercept(o_totalprice,
             date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)), 4)
         AS baseline_price
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 8 AND count(DISTINCT o_orderdate) >= 2
""",
    doc="Per-customer spend trend via the SQL:2003 linear-regression "
        "aggregates (regr_slope/regr_intercept), x = days since a fixed "
        "epoch: one map-side-combined groupBy, all-codegen, no window "
        "and no second pass — the co-moment formulation both engines "
        "implement keeps cancellation error ~1e-14 so the rounded "
        "doubles hash-match. Customers need >=8 orders on >=2 distinct "
        "dates (slope undefined at zero date variance)",
)
def orders_spend_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    x = F.datediff("o_orderdate", F.lit("1995-01-01")).cast("double")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("n_orders"),
             F.round(F.regr_slope(F.col("o_totalprice"), x), 6)
              .alias("slope_per_day"),
             F.round(F.regr_intercept(F.col("o_totalprice"), x), 4)
              .alias("baseline_price"),
             F.countDistinct("o_orderdate").alias("__nd"))
        .filter((F.col("n_orders") >= 8) & (F.col("__nd") >= 2))
        .drop("__nd")
    )


def _zvalue_sql(x: str, y: str, bits: int = 10) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(({x} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({y} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "zorder_layout_key",
    oracle=f"""
SELECT o_orderkey,
       CAST({_zvalue_sql('(o_custkey % 1024)', '(o_orderkey % 1024)')} AS BIGINT)
         AS zval
FROM orders
""",
    doc="Morton/Z-order clustering key over (custkey, orderkey) "
        "buckets — the space-filling-curve layout behind "
        "OPTIMIZE ZORDER: range-partitioning by zval co-locates rows "
        "in both dimensions so file min/max stats prune on either "
        "predicate. Pure integer bit arithmetic in codegen",
)
def zorder_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tiling import zvalue_2d
    orders = _t(spark, sf_dir, "orders")["orders"]
    return orders.select(
        "o_orderkey",
        zvalue_2d(F.col("o_custkey") % 1024, F.col("o_orderkey") % 1024,
                  bits=10).alias("zval"))


@register(
    "bloom_join_prefilter",
    oracle="""
SELECT l.l_linestatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_linestatus
""",
    doc="Bloom-runtime-filtered join, result provably exact: the "
        "urgent-orders bloom filter collapses to <=m/64 literal longs "
        "and drops non-matching fact rows at the SCAN (codegen "
        "predicate, no join, no row inflation) before the exact join "
        "shuffles the ~4x-smaller remainder — the semi-join bandwidth "
        "saver at 100 TB; false positives are removed by the exact "
        "join, so the oracle is the plain join",
)
def bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import sketch as SK
    t = _t(spark, sf_dir, "orders", "lineitem")
    dim = (t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
           .select("o_orderkey"))
    m, k = 32768, 5
    words = SK.bloom_rf_build(dim, "o_orderkey", m, k)
    pre = (t["lineitem"].select("l_orderkey", "l_linestatus")
           .filter(SK.bloom_rf_predicate("l_orderkey", words, m, k)))
    return (pre.join(dim, pre["l_orderkey"] == dim["o_orderkey"])
            .groupBy("l_linestatus")
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.countDistinct("l_orderkey").cast("long").alias("n_orders")))


@register(
    "sketch_hll_stream",
    oracle=f"""
WITH h AS (
  SELECT {_md5h32_sql('CAST(user_id AS VARCHAR)')} AS h FROM events
),
built AS (
  SELECT h % 256 AS register_id,
         max(CASE WHEN h // 256 = 0 THEN 25
                  ELSE 25 - length(bin(h // 256)) END) AS max_rho
  FROM h GROUP BY h % 256
)
SELECT t.register_id, CAST(COALESCE(b.max_rho, 0) AS INT) AS max_rho
FROM generate_series(0, 255) AS t(register_id)
LEFT JOIN built b ON b.register_id = t.register_id
""",
    doc="Continuous HLL sketch maintenance under Structured Streaming: "
        "the register build is a streaming groupBy-max in complete mode "
        "whose state is bounded at m rows forever (the mergeable-sketch "
        "property IS the streaming-state bound) — two real micro-batches "
        "accumulate to exactly the batch-built register table",
)
def sketch_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from .analytics import sketch as SK
    from .session import load_tables
    from .streaming.windows import (
        run_stream_to_memory, stage_microbatches, stream_events_from_dir,
    )

    t = load_tables(spark, sf_dir, ["events"])
    users = t["events"].select("user_id")
    stage = _stage_dir("hll_stream")
    # two staged micro-batches maintaining one sketch state, each
    # written by k parallel tasks (never a coalesce(1) funnel)
    k = stage_microbatches(
        [users.filter(c) for c in (F.col("user_id") % 2 == 0,
                                   F.col("user_id") % 2 == 1)], stage)
    stream = stream_events_from_dir(spark, stage, users.schema,
                                    max_files_per_trigger=k)
    built = (SK.hll_rho_frame(stream, "user_id", 256)
             .groupBy("register_id")
             .agg(F.max("rho").cast("int").alias("max_rho")))
    qname = f"hll_stream_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(built, qname, output_mode="complete")
    return SK.hll_fill_registers(
        spark.table(qname).withColumn("max_rho", F.col("max_rho").cast("int")),
        spark, 256)


def _cdc_curated_oracle() -> str:
    hits, case_sql = _lang_hits_and_case()
    return f"""
WITH t0 AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0),
t1 AS (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0),
ins AS (SELECT doc_id FROM t1 WHERE doc_id NOT IN (SELECT doc_id FROM t0)),
docs AS (SELECT d.doc_id, d.text FROM documents d JOIN ins USING (doc_id)),
keep AS (
  SELECT min(doc_id) AS doc_id FROM docs GROUP BY md5({_NORM_SQL})
),
kept AS (SELECT d.doc_id, d.text FROM docs d JOIN keep USING (doc_id)),
h AS (
  SELECT doc_id, text,
  {hits}
  FROM kept
),
m AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_tokens,
    round(CAST(hits_en AS DOUBLE) / len(string_split(text, ' ')), 6) AS stopword_ratio,
    round(CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
          / length(text), 6) AS punct_ratio,
    {case_sql} AS predicted_lang
  FROM h
)
SELECT doc_id, n_tokens, stopword_ratio, punct_ratio, predicted_lang
FROM m
WHERE predicted_lang = 'en' AND n_tokens BETWEEN 20 AND 90
  AND stopword_ratio >= 0.03 AND punct_ratio <= 0.2
"""


@register(
    "cdc_curated_inserts",
    oracle=_cdc_curated_oracle(),
    doc="Replicate-then-curate composition — the engine's two halves in "
        "one plan: snapshot-diff CDC finds newly arrived documents "
        "(anti-join of key snapshots), broadcast-hydrates their text, "
        "and the curation gates (exact dedup + language + quality) admit "
        "only training-worthy rows. The CDC side shuffles keys only; "
        "text flows once, straight into the fingerprint shuffle",
)
def cdc_curated_inserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .diff import compute_changes
    docs = _t(spark, sf_dir, "documents")["documents"]
    t0 = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("pk"), F.lit(0).cast("long").alias("ts"))
    t1 = docs.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("pk"), F.lit(0).cast("long").alias("ts"))
    cs = compute_changes(curr=t1, prev=t0, pk_cols=["pk"])
    ins = F.broadcast(cs.inserts.select(F.col("pk").alias("doc_id")))
    hydrated = docs.join(ins, "doc_id").select("doc_id", "text")
    return TX.curate(hydrated)


def _kmeans_oracle(k: int = 8, rounds: int = 2, dim: int = 64,
                   train_sample: int | None = None) -> str:
    """Lloyd k-means unrolled: c0 -> (assign, update) x rounds -> final
    assignment. All integer arithmetic (floor-quantize, squared dists,
    truncating centroid division), so both engines are bit-identical.
    train_sample mirrors kmeans_quantized: the update rounds see only
    the lowest-id sample; the final assignment sees every vector."""
    dist = ("list_sum(list_transform(generate_series(1, {d}), "
            "i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))").format(d=dim)
    tr = "tr" if train_sample else "q"
    parts = [f"""
q AS (
  -- well_formed mirror (lane excludes NULL/ragged vectors from
  -- clustering) + Spark's saturating floor->long (NaN -> 0,
  -- overflow saturates; DuckDB's plain CAST crashes on poison)
  SELECT vec_id, list_transform(embedding, v ->
    greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
      {_floor_long_sql('(CAST(v AS DOUBLE) * 100)')}))) AS qv
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
  FROM q ORDER BY vec_id LIMIT {k}
)"""]
    if train_sample:
        parts.append(f"""
tr AS (SELECT * FROM q ORDER BY vec_id LIMIT {int(train_sample)})""")
    for r in range(rounds):
        parts.append(f"""
a{r} AS (
  SELECT vec_id, qv, cid FROM (
    SELECT q.vec_id, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM {tr} q CROSS JOIN c{r} c) WHERE rn = 1
),
s{r} AS (
  SELECT cid, i,
         CASE WHEN sum(qv[i]) >= 0 THEN sum(qv[i]) // count(*)
              ELSE -((-sum(qv[i])) // count(*)) END AS cvi
  FROM a{r}, unnest(generate_series(1, {dim})) AS t(i)
  GROUP BY cid, i
),
c{r + 1}raw AS (SELECT cid, list(cvi ORDER BY i) AS cv FROM s{r} GROUP BY cid),
c{r + 1} AS (
  SELECT c{r}.cid, COALESCE(c{r + 1}raw.cv, c{r}.cv) AS cv
  FROM c{r} LEFT JOIN c{r + 1}raw ON c{r + 1}raw.cid = c{r}.cid
)""")
    return f"""
WITH {','.join(parts)}
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id FROM (
  SELECT q.vec_id, c.cid,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {dist}, c.cid) AS rn
  FROM q CROSS JOIN c{rounds} c) WHERE rn = 1
"""


@register(
    "embedding_kmeans_clusters",
    oracle=_kmeans_oracle(),
    doc="SemDeDup-style embedding clustering (Abbas et al. 2023): Lloyd "
        "k-means over integer-quantized vectors — assignment is map-only "
        "(centroids ride as a constant-folded k*dim literal, the "
        "ivf_build pattern), the update one (cluster,dim)-keyed map-side-"
        "combined aggregation; truncating integer centroid division and "
        "lowest-id tie-breaks make every round bit-identical to the "
        "oracle's unrolled recursion",
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    out = S.kmeans_quantized(emb, k=8, rounds=2, scale=100)
    return out.withColumn("cluster_id", F.col("cluster_id").cast("long"))


@register(
    "embedding_kmeans_train_sample",
    oracle=_kmeans_oracle(train_sample=96),
    doc="Sample-trained k-means (FAISS max_points_per_centroid "
        "discipline, same as pq_train): the centroid update rounds "
        "scan only the 96 lowest-id vectors — rounds sample scans "
        "instead of rounds full-corpus scans — and ONE full-corpus "
        "pass does the final assignment. At 100 TB this is the "
        "difference between training centroids in minutes on a "
        "bounded sample and rescanning the corpus per Lloyd round; "
        "the oracle replays the identical integer recursion with the "
        "same LIMIT so every assignment is bit-checked",
)
def embedding_kmeans_train_sample(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    out = S.kmeans_quantized(emb, k=8, rounds=2, scale=100,
                             train_sample=96)
    return out.withColumn("cluster_id", F.col("cluster_id").cast("long"))


def _semantic_dedup_oracle(k: int = 8, rounds: int = 2, dim: int = 64,
                           threshold: float = 0.95) -> str:
    kmeans = _kmeans_oracle(k, rounds, dim)
    return f"""
WITH cl AS (
{kmeans}
),
vq AS (
  -- quantized_cosine_np's _Q_DOMAIN contract (NaN/|x|>20 -> NULL cosine,
  -- dropped by the >= threshold filter) as an inner-join absence;
  -- also keeps the BIGINT cast in range (crashes on poison otherwise)
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x*1e6) AS BIGINT)) AS q
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(CAST(embedding AS DOUBLE[]),
                        x -> isnan(x) OR abs(x) > 20.0)) = 0
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cl a JOIN cl b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
),
scored AS (
  SELECT p.id_a, p.id_b,
    CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1]*x[2])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(a.q, x -> x*x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(b.q, x -> x*x)) AS DOUBLE))) AS cos
  FROM pairs p
  JOIN vq a ON a.vec_id = p.id_a
  JOIN vq b ON b.vec_id = p.id_b
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= {threshold}
"""


@register(
    "dedup_semantic",
    # threshold 0.4: the synthetic embeddings are random (no planted
    # semantic dups), so the production-style 0.95 returns an empty
    # frame — 0.4 keeps the check exercising real within-cluster pairs
    oracle=_semantic_dedup_oracle(threshold=0.4),
    doc="SemDeDup end-to-end (Abbas et al. 2023): k-means clusters "
        "bound the pair space (cluster-keyed self-join, never corpus^2; "
        "k scales with the corpus to cap cluster size), exact quantized "
        "cosine keeps true semantic near-dups. The kmeans rounds, the "
        "pair set, and the float cosine column are all oracle-checked",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k left to adaptive_k: ceil(n/1024) floored at 8 resolves to 8 at
    # every test scale (embeddings <= 8192 rows through sf0.1), keeping
    # the oracle's k=8 replica exact, while a production corpus grows k
    # with n and salts oversized clusters — the registered query now
    # exercises the same adaptive code path production would take.
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return S.semantic_dedup_pairs(emb, rounds=2, threshold=0.4)


_SOURCE_ROUNDTRIP_ORACLE = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(length(text)) AS BIGINT) AS total_text_len
FROM documents GROUP BY lang
"""


def _roundtrip_aggregate(df: DataFrame) -> DataFrame:
    return (df.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.sum(F.length("text")).cast("long").alias("total_text_len")))


@register(
    "source_json_roundtrip",
    oracle=_SOURCE_ROUNDTRIP_ORACLE,
    doc="JSON-lines source path (the reference's S3 JSON format, "
        "K:682/P:647 family): documents written as newline-delimited "
        "JSON, read back through spark.read.json with an explicit "
        "schema (no sampling-based inference pass — at 100 TB schema "
        "inference is a full extra scan), aggregated; values must "
        "survive the round-trip exactly against the parquet oracle",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (_t(spark, sf_dir, "documents")["documents"]
            .select("doc_id", "text", "lang", "n_chars"))
    stage = _stage_dir("json_src")
    docs.write.mode("overwrite").json(stage)
    back = spark.read.schema(docs.schema).json(stage)
    return _roundtrip_aggregate(back)


@register(
    "source_csv_roundtrip",
    oracle=_SOURCE_ROUNDTRIP_ORACLE,
    doc="CSV source path with quoting/escaping round-trip: documents "
        "written as quoted CSV with header, read back with an explicit "
        "schema (inference off, same full-extra-scan argument as JSON); "
        "free-text columns force the quote/escape machinery and the "
        "aggregate must still match the parquet oracle exactly",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (_t(spark, sf_dir, "documents")["documents"]
            .select("doc_id", "text", "lang", "n_chars"))
    stage = _stage_dir("csv_src")
    # explicit null sentinel: CSV cannot otherwise distinguish NULL
    # from '' (both render as an empty field), so a corpus with both
    # silently merges them on read-back (r16 poison oracle sweep) —
    # the sentinel must ride BOTH the writer and the reader
    # the CSV WRITER trims surrounding whitespace by default
    # (ignore*WhiteSpace default true on write, false on read) —
    # whitespace-only and trailing-space text must survive byte-exact
    (docs.write.mode("overwrite")
     .option("header", "true").option("quoteAll", "true")
     .option("ignoreLeadingWhiteSpace", "false")
     .option("ignoreTrailingWhiteSpace", "false")
     .option("nullValue", "\\N").csv(stage))
    # multiLine: free text CONTAINS newlines; the writer quotes them
    # correctly but the default reader treats every physical line as a
    # record and shreds the row (r16 unicode-storm sweep). Scale note:
    # multiLine makes each CSV file single-task (no line-boundary
    # splitting) — the standard Spark CSV tradeoff; size files
    # accordingly or land newline-bearing text in JSON/parquet instead
    back = (spark.read.schema(docs.schema)
            .option("header", "true").option("nullValue", "\\N")
            .option("multiLine", "true")
            .option("emptyValue", "").csv(stage))
    return _roundtrip_aggregate(back)


@register(
    "source_xml_roundtrip",
    oracle=_SOURCE_ROUNDTRIP_ORACLE,
    doc="XML source path (Spark 4 native spark-xml): documents written "
        "with one <row> element per record, read back with an explicit "
        "schema and the same rowTag (inference off — at 100 TB schema "
        "inference is a full extra scan); free text forces entity "
        "escaping (&amp; &lt; &gt;) and the aggregate must survive the "
        "round-trip exactly against the parquet oracle. Completes the "
        "structured-file source matrix (JSON/CSV/ORC/XML) the "
        "reference's S3 landing zone family implies (P:647, O:709)",
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (_t(spark, sf_dir, "documents")["documents"]
            .select("doc_id", "text", "lang", "n_chars"))
    stage = _stage_dir("xml_src")
    (docs.write.mode("overwrite").format("xml")
     .option("rootTag", "documents").option("rowTag", "row").save(stage))
    # ignoreSurroundingSpaces=false: the reader's default TRIMS element
    # text, so whitespace-only documents collapse to '' and trailing
    # spaces vanish — corpus text must survive byte-exact (r16 poison
    # oracle sweep; clean docs carry no surrounding whitespace, so the
    # clean result is unchanged)
    back = (spark.read.schema(docs.schema).format("xml")
            .option("rowTag", "row")
            .option("ignoreSurroundingSpaces", "false").load(stage))
    return _roundtrip_aggregate(back)


_STATEMENTLOG_ORACLE = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(length(text)) AS BIGINT) AS total_text_len
FROM documents WHERE doc_id % 17 = 0 GROUP BY lang
"""


@register(
    "source_statementlog_roundtrip",
    oracle=_STATEMENTLOG_ORACLE,
    doc="CQL statement-log replay as a V2 SOURCE: documents write "
        "through df.write.format('cql') (the engine's batched "
        "INSERT-JSON statement path, one log file per task), then "
        "spark.read.format('cql') replays the log back into rows — "
        "one InputPartition per task file, '' unescaping, null "
        "preservation — and the aggregate must match the parquet "
        "oracle exactly. This is the DLQ/repair replay shape "
        "(K:327-354) promoted to a first-class source: the insert "
        "image of any logged batch can be reconstituted as a "
        "DataFrame without a live cluster. The doc_id % 17 slice "
        "bounds the double Python round-trip (statement render + "
        "parse) — replay fidelity is what's under test, and a real "
        "replay runs this reader at full scan parallelism anyway",
)
def source_statementlog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sinks.datasource import CqlDataSource

    spark.dataSource.register(CqlDataSource)
    docs = (_t(spark, sf_dir, "documents")["documents"]
            .where(F.col("doc_id") % 17 == 0)
            .select("doc_id", "text", "lang", "n_chars"))
    stage = _stage_dir("cql_stmt_log")
    # a Python V2 writer task costs a worker round-trip; size tasks to
    # the data (4 log files here), not the upstream scan splits — the
    # same write-parallelism dial the reference exposes via
    # coalesce(cores x instances) (K:2225)
    (docs.coalesce(4).write.format("cql").option("target", "ks.documents")
     .option("path", stage).mode("append").save())
    back = (spark.read.format("cql")
            .schema("doc_id bigint, text string, lang string, n_chars bigint")
            .option("path", stage).load())
    return _roundtrip_aggregate(back)


@register(
    "source_statementlog_stream",
    oracle=_STATEMENTLOG_ORACLE,
    doc="The statement log as a STREAMING CDC source: documents write "
        "through the cql sink, then spark.readStream.format('cql') "
        "consumes the log files as micro-batches (file-granular "
        "offsets, one InputPartition per new file) into a memory sink, "
        "and the streamed rows must aggregate to the same parquet "
        "oracle as the batch replay. This is the reference's "
        "incremental-replication polling loop (K:2338-2379) as a "
        "first-class Structured Streaming source — downstream gets "
        "watermarks, stateful ops, and exactly-once sinks for free",
)
def source_statementlog_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from .sinks.datasource import CqlDataSource

    spark.dataSource.register(CqlDataSource)
    docs = (_t(spark, sf_dir, "documents")["documents"]
            .where(F.col("doc_id") % 17 == 0)
            .select("doc_id", "text", "lang", "n_chars"))
    stage = _stage_dir("cql_stmt_stream")
    (docs.coalesce(4).write.format("cql").option("target", "ks.documents")
     .option("path", stage).mode("append").save())
    stream = (spark.readStream.format("cql")
              .schema("doc_id bigint, text string, lang string, "
                      "n_chars bigint")
              .option("path", stage).load())
    qname = f"stmt_stream_{_uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.format("memory").queryName(qname)
         .option("checkpointLocation", _stage_dir("cql_stmt_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return _roundtrip_aggregate(spark.table(qname))


@register(
    "source_orc_roundtrip",
    oracle=_SOURCE_ROUNDTRIP_ORACLE,
    doc="ORC source path: documents written as ORC (the other columnar "
        "format Spark ships a vectorized reader for), read back and "
        "aggregated; values must survive the round-trip exactly against "
        "the parquet oracle. ORC carries its schema, so unlike the "
        "JSON/CSV legs no explicit schema is needed — the read is "
        "footer-driven like parquet, with the same pushdown/pruning "
        "machinery at scale",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (_t(spark, sf_dir, "documents")["documents"]
            .select("doc_id", "text", "lang", "n_chars"))
    stage = _stage_dir("orc_src")
    docs.write.mode("overwrite").orc(stage)
    return _roundtrip_aggregate(spark.read.orc(stage))


@register(
    "compact_small_files",
    oracle=_SOURCE_ROUNDTRIP_ORACLE,
    doc="Small-file compaction (parquet_sink.compact_parquet): the "
        "documents table deliberately fragmented into 64 splinter files, "
        "then bin-packed by actual on-disk bytes into ~target-size files "
        "and read back — content must survive exactly. Small files are "
        "the classic 100 TB operational wound (driver-side listing, "
        "footer-per-file overhead, task-per-file scheduling); the "
        "compactor sizes the output from driver-side file METADATA only "
        "(no data read) and coalesces without a shuffle",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sinks.parquet_sink import compact_parquet

    docs = (_t(spark, sf_dir, "documents")["documents"]
            .select("doc_id", "text", "lang", "n_chars"))
    frag = _stage_dir("compact_frag")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    out = _stage_dir("compact_out")
    compact_parquet(spark, frag, out, target_bytes=1 << 20)
    return _roundtrip_aggregate(spark.read.parquet(out))


@register(
    "snapshot_pruned_read",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       min(o_orderkey) AS min_pk, max(o_orderkey) AS max_pk,
       CAST(sum(CAST(year(o_orderdate)*10000 + month(o_orderdate)*100
                     + day(o_orderdate) AS BIGINT)) AS BIGINT) AS sum_ts
FROM orders WHERE o_orderkey BETWEEN 10000 AND 20000
""",
    doc="Iceberg-style manifest data skipping in the snapshot store: a "
        "PK snapshot written with stats_cols range-partitions its files "
        "and records per-file min/max in the manifest, so a "
        "between-range time-travel read opens only intersecting files — "
        "the predicate touches file METADATA before any data, which at "
        "100 TB turns a point/range lookup from a snapshot scan into "
        "O(matching files). The aggregate over the pruned read must "
        "equal the oracle's direct filtered scan",
)
def snapshot_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .snapshot import SnapshotStore

    orders = _t(spark, sf_dir, "orders")["orders"]
    ymd = (F.year("o_orderdate") * 10000 + F.month("o_orderdate") * 100
           + F.dayofmonth("o_orderdate")).cast("long")
    base = orders.select(F.col("o_orderkey").alias("pk"), ymd.alias("ts"))
    store = SnapshotStore(_stage_dir("snap_prune"), "ks", "orders")
    sid = store.write_snapshot(base, tile=0, files_per_snapshot=8,
                               stats_cols=["pk"])
    pruned = store.read_snapshot(spark, 0, sid,
                                 between={"pk": (10_000, 20_000)})
    return pruned.agg(
        F.count("*").cast("long").alias("n"),
        F.min("pk").alias("min_pk"), F.max("pk").alias("max_pk"),
        F.sum("ts").cast("long").alias("sum_ts"))


@register(
    "snapshot_time_travel",
    oracle="""
SELECT 1 AS snap, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_pk
FROM orders
UNION ALL
SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
FROM orders WHERE o_orderkey % 5 = 0
""",
    doc="Lakehouse time travel through the snapshot store (reference "
        "behavior K:1340-1349 readIcebergAtSnapshot): three overwrite "
        "commits of one tile make three snapshot ids, then "
        "read_snapshot reads EACH historical id back — the summary per "
        "snapshot must equal the oracle recomputing each source "
        "predicate directly. A read is a scan of the immutable "
        "snapshot dir the manifest names, with the manifest schema; no "
        "data is rewritten between snapshots",
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .snapshot import SnapshotStore

    orders = _t(spark, sf_dir, "orders")["orders"]
    base = orders.select(F.col("o_orderkey").alias("pk"))
    store = SnapshotStore(_stage_dir("snap_tt"), "ks", "orders")
    sids = [store.write_snapshot(base, 0),
            store.write_snapshot(base.filter(F.col("pk") % 3 == 0), 0),
            store.write_snapshot(base.filter(F.col("pk") % 5 == 0), 0)]
    out = None
    for snap, sid in enumerate(sids, start=1):
        part = (store.read_snapshot(spark, 0, sid)
                .agg(F.count("*").cast("long").alias("n"),
                     F.sum("pk").cast("long").alias("sum_pk"))
                .select(F.lit(snap).cast("int").alias("snap"), "n", "sum_pk"))
        out = part if out is None else out.unionByName(part)
    return out


@register(
    "partitioned_write_pruning",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
""",
    doc="Hive-partitioned layout + partition pruning: documents written "
        "partitionBy(lang), read back with a lang predicate that prunes "
        "to 2 of 5 directories BEFORE any IO (PartitionFilters in the "
        "scan, not a post-read filter) — with Z-order the second half of "
        "the layout story: coarse pruning by partition column, fine "
        "pruning by file min/max within partitions",
)
def partitioned_write_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (_t(spark, sf_dir, "documents")["documents"]
            .select("doc_id", "lang", "n_chars"))
    stage = _stage_dir("part_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(stage)
    # explicit schema on the read-back: schema inference needs at least
    # one data file (an EMPTY input writes none and the read would
    # throw UNABLE_TO_INFER_SCHEMA), and skipping inference is the
    # scale-right default anyway — one less listing+footer pass
    back = (spark.read.schema(docs.schema).parquet(stage)
            .filter(F.col("lang").isin("en", "de")))
    return (back.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


@register(
    "parquet_agg_pushdown",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders
""",
    doc="Parquet aggregate pushdown: whole-table count/min/max answered "
        "from footer statistics without decoding row groups "
        "(PushedAggregation in the scan) — at 100 TB the difference "
        "between metadata reads and a full scan for the profiling "
        "queries every pipeline runs first. Requires the v2 parquet "
        "reader (useV1SourceList=''), scoped to this plan's "
        "construction and restored; aggregatePushdown alone (the "
        "SCALE_CONF default) is inert under the v1 reader. GUARDED: "
        "Spark's pushdown THROWS at execution on a stats-less parquet "
        "file (zero row groups — 'No min/max found', found by the r15 "
        "empty-fixture oracle sweep), so the lane footer-checks the "
        "dataset first (driver metadata read, no data) and falls back "
        "to the ordinary scan-side aggregate when any file lacks row "
        "groups — an empty part file in a 100 TB dataset must not "
        "kill the profiling query",
)
def parquet_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    path = f"{sf_dir}/orders.parquet"
    # recursive glob: a partitioned/nested dataset's files live below
    # subdirectories, where a top-level *.parquet glob finds NOTHING —
    # and all([]) is True, which would re-enable pushdown with zero
    # files checked (the exact crash the guard exists for)
    files = (sorted(_glob.glob(_os.path.join(path, "**", "*.parquet"),
                               recursive=True))
             if _os.path.isdir(path) else [path])

    def _stats_complete(f: str) -> bool:
        md = _pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            return False  # a 0-row file carries a statless row group
        return all(
            md.row_group(g).column(c).statistics is not None
            for g in range(md.num_row_groups)
            for c in range(md.row_group(g).num_columns))

    try:
        # an empty file list is UNVERIFIED, not verified-safe
        pushdown_safe = bool(files) and all(_stats_complete(f)
                                            for f in files)
    except Exception:  # noqa: BLE001 - unreadable footer (non-local path)
        pushdown_safe = False

    def build():
        orders = _t(spark, sf_dir, "orders")["orders"]
        return orders.agg(F.count("*").cast("long").alias("n_rows"),
                          F.min("o_orderkey").cast("long").alias("min_key"),
                          F.max("o_orderkey").cast("long").alias("max_key"))

    if not pushdown_safe:
        return build()  # plain aggregate: count 0 / NULL min-max
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        return build()
    finally:
        if old_v1 is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)


@register(
    "validate_constraints",
    oracle="""
WITH m AS (
  SELECT
    avg(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END) AS m0,
    CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*) AS m1,
    CAST(min(o_totalprice) AS DOUBLE) AS m2,
    CAST(max(o_totalprice) AS DOUBLE) AS m3,
    avg(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1.0 ELSE 0.0 END) AS m4,
    avg(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
             THEN 1.0 ELSE 0.0 END) AS m5
  FROM orders
),
r AS (
  SELECT count(*) AS n, count(c.c_custkey) AS matched
  FROM orders o
  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o.o_custkey = c.c_custkey
)
SELECT 'completeness_o_custkey' AS "check", round(m0, 6) AS metric,
       m0 >= 1.0 AS passed FROM m
UNION ALL SELECT 'uniqueness_o_orderkey', round(m1, 6), m1 >= 1.0 FROM m
UNION ALL SELECT 'min_o_totalprice', round(m2, 6), m2 >= 5000.0 FROM m
UNION ALL SELECT 'max_o_totalprice', round(m3, 6), m3 <= 1000000.0 FROM m
UNION ALL SELECT 'compliance_set_o_orderstatus', round(m4, 6), m4 >= 1.0 FROM m
UNION ALL SELECT 'compliance_pattern_o_orderpriority', round(m5, 6),
                 m5 >= 1.0 FROM m
-- zero-row child: vacuous pass with NULL metric — the documented
-- referential_integrity contract (an empty tile must not fail the
-- suite); the n=0 CASE encodes it so both engines agree on the edge
UNION ALL SELECT 'ref_o_custkey',
                 CASE WHEN n = 0 THEN NULL
                      ELSE round(CAST(matched AS DOUBLE) / n, 6) END,
                 CASE WHEN n = 0 THEN TRUE
                      ELSE CAST(matched AS DOUBLE) / n >= 1.0 END FROM r
""",
    doc="Deequ-style declared-constraint suite (analytics.validate): six "
        "row-level constraints (completeness, uniqueness, bounds, set "
        "membership, regex compliance) compiled into ONE aggregation over "
        "ONE scan of orders — the long-form (check, metric, passed) result "
        "is an explode of the single aggregated row, never a per-check "
        "rescan — plus the one genuinely two-input constraint "
        "(o_custkey referential integrity vs customer) as an AQE-broadcast "
        "anti-join count unioned onto the same result. Generalizes the "
        "reference's count/sample reconciliation (R:660-825) and "
        "type-dispatched column stats (K:1719-1748). The min bound is set "
        "deliberately unmet so failing constraints are exercised end-to-end",
)
def validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import validate as V

    t = _t(spark, sf_dir, "orders", "customer")
    orders, customer = t["orders"], t["customer"]
    suite = V.validate(orders, [
        V.completeness("o_custkey"),
        V.uniqueness("o_orderkey"),
        V.min_value("o_totalprice", 5000.0),
        V.max_value("o_totalprice", 1000000.0),
        V.member_of("o_orderstatus", ["O", "F", "P"]),
        V.pattern("o_orderpriority", "^[1-5]-"),
    ])
    ref = V.referential_integrity(orders, "o_custkey", customer, "c_custkey")
    return suite.unionByName(ref)


@register(
    "scd2_user_state",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
           AS prev_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts, event_id
  FROM ordered
  WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
)
SELECT user_id, event_type,
       epoch_ms(ts) AS valid_from_ms,
       epoch_ms(lead(ts) OVER w) AS valid_to_ms,
       CAST(row_number() OVER w AS BIGINT) AS version,
       lead(ts) OVER w IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
""",
    doc="SCD2 dimension build (temporal.scd2_history): each user's "
        "event_type change feed collapses to validity intervals "
        "(valid_from, valid_to, version, is_current) — the "
        "point-in-time-queryable history the CDC change feed accumulates "
        "into. Both the change-detection and interval-assembly windows "
        "partition on user_id, so the plan shuffles the feed exactly "
        "once; ties order on event_id for a total, cross-engine "
        "deterministic ordering",
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .temporal import scd2_history

    events = _t(spark, sf_dir, "events")["events"]
    hist = scd2_history(
        events.select("user_id", "ts", "event_id", "event_type"),
        key="user_id", tracked=["event_type"], ts="ts",
        tiebreak=["event_id"])
    return hist.select(
        "user_id", "event_type",
        F.unix_millis(F.col("valid_from").cast("timestamp")).alias("valid_from_ms"),
        F.unix_millis(F.col("valid_to").cast("timestamp")).alias("valid_to_ms"),
        "version", "is_current")


@register(
    "retrieval_hybrid_rrf",
    oracle="""
WITH base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
d AS (SELECT doc_id, len(w) AS dl, w FROM base),
tf AS (
  SELECT doc_id, dl, t.token, count(*) AS tf
  FROM d, unnest(w) AS t(token)
  WHERE t.token IN ('scan', 'merge', 'window')
  GROUP BY doc_id, dl, t.token
),
dfreq AS (SELECT token, count(*) AS df_t FROM tf GROUP BY token),
tot AS (SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM base),
bm25 AS (
  SELECT tf.doc_id,
         round(sum(
           ln((tot.n_docs - dfreq.df_t + 0.5) / (dfreq.df_t + 0.5) + 1)
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / tot.avgdl))
         ), 6) AS bm25
  FROM tf JOIN dfreq USING (token) CROSS JOIN tot
  GROUP BY tf.doc_id
),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
  FROM bm25 QUALIFY rank <= 100
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
cosv AS (
  -- real filter + UNION, not a CASE guard: list_inner_product
  -- validates its whole input batch (see _COS_SQL)
  SELECT c.vec_id AS doc_id,
         CASE WHEN isnan(list_dot_product(qv, cv)
                / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))))
              THEN NULL
              ELSE list_dot_product(qv, cv)
                / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
         END AS cos
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings) c, q
  WHERE qv IS NOT NULL AND cv IS NOT NULL AND len(qv) = len(cv)
    AND len(qv) > 0
  UNION ALL
  SELECT c.vec_id AS doc_id, CAST(NULL AS DOUBLE) AS cos
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings) c, q
  WHERE qv IS NULL OR cv IS NULL OR len(qv) <> len(cv) OR len(qv) = 0
),
sem AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
  FROM cosv QUALIFY rank <= 100
),
u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
       round(sum(1.0 / (60 + rank)), 6) AS rrf
FROM u GROUP BY doc_id
ORDER BY rrf DESC, doc_id LIMIT 20
""",
    doc="Hybrid retrieval: BM25 lexical ranks fused with query-by-document "
        "embedding-cosine ranks via reciprocal-rank fusion "
        "(similarity.rrf_fuse, k=60) — the standard two-tower retrieval "
        "stack over the corpus. Each ranker is capped to its distributed "
        "top-100 BEFORE ranking (TakeOrdered partial top-k, no global "
        "sort), so fusion touches <= 200 rows however large the corpus; "
        "the cosine fold is the proven bit-identical left-to-right "
        "double sum (== DuckDB list_dot_product) and BM25 ranks sort on "
        "6-dp-rounded scores, so ranks are cross-engine exact",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = _t(spark, sf_dir, "documents", "embeddings")
    docs, emb = t["documents"], t["embeddings"]

    lex_scores = TX.bm25_scores(docs, ["scan", "merge", "window"])
    wlex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = (lex_scores.orderBy(F.desc("bm25"), "doc_id").limit(100)
           .select("doc_id",
                   F.row_number().over(wlex).cast("long").alias("rank")))

    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").cast("array<double>").alias("qv")))
    c = emb.select(F.col("vec_id").alias("doc_id"),
                   F.col("embedding").cast("array<double>").alias("cv"))
    cosv = (c.crossJoin(F.broadcast(q))
            .select("doc_id", S.cosine(F.col("cv"), F.col("qv")).alias("cos")))
    wsem = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    sem = (cosv.orderBy(F.desc("cos"), "doc_id").limit(100)
           .select("doc_id",
                   F.row_number().over(wsem).cast("long").alias("rank")))

    return S.rrf_fuse([lex, sem], id_col="doc_id", k=60, top_n=20)


@register(
    "sketch_hll_grouped",
    oracle=f"""
WITH h AS (
  SELECT event_type, {_md5h32_sql('CAST(user_id AS VARCHAR)')} AS h FROM events
),
built AS (
  SELECT event_type, h % 64 AS register_id,
         max(CASE WHEN h // 64 = 0 THEN 27
                  ELSE 27 - length(bin(h // 64)) END) AS max_rho
  FROM h GROUP BY event_type, h % 64
),
g AS (SELECT DISTINCT event_type FROM events)
SELECT g.event_type, t.register_id, CAST(COALESCE(b.max_rho, 0) AS INT) AS max_rho
FROM g CROSS JOIN generate_series(0, 63) AS t(register_id)
LEFT JOIN built b
  ON b.event_type = g.event_type AND b.register_id = t.register_id
""",
    doc="Per-group HLL sketches (sketch.hll_registers_grouped, m=64): "
        "distinct users per event type as one register table per group — "
        "the approximate distinct-per-segment profiling pass. One groupBy "
        "with map-side partial max bounds shuffle traffic at |groups| x 64 "
        "rows per partition however large the input; groups merge by the "
        "same union+max as the global sketch, and collapse into it by "
        "dropping the group column (register/rho assignment is "
        "group-independent)",
)
def sketch_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import sketch as SK
    events = _t(spark, sf_dir, "events")["events"]
    return SK.hll_registers_grouped(events, "event_type", "user_id", m=64)


@register(
    "record_linkage_fuzzy",
    oracle="""
WITH dirty AS (
  SELECT c_custkey AS d_id,
         substr(c_name, 1, length(c_name) - 1) ||
           CAST((CAST(substr(c_name, length(c_name), 1) AS INT) + 1) % 10
                AS VARCHAR) AS d_name
  FROM customer
),
l AS (SELECT d_id, d_name, substr(d_name, 1, 17) AS block FROM dirty),
r AS (SELECT c_custkey, c_name, substr(c_name, 1, 17) AS block FROM customer),
cand AS (
  SELECT l.d_id, r.c_custkey,
         CAST(levenshtein(l.d_name, r.c_name) AS INT) AS dist
  FROM l JOIN r USING (block)
  WHERE levenshtein(l.d_name, r.c_name) <= 1
)
SELECT d_id, c_custkey, dist
FROM (SELECT *, row_number() OVER (PARTITION BY d_id
                                   ORDER BY dist, c_custkey) AS rn
      FROM cand)
WHERE rn = 1
""",
    doc="Blocked fuzzy record linkage (dedup.blocked_fuzzy_links): a "
        "deterministically-corrupted customer register (last name digit "
        "bumped, edit distance 1) links back to the clean register by "
        "17-char-prefix blocking (all but the one perturbed character, so "
        "blocks hold ~10 names instead of ~100 and the quadratic verify "
        "work drops 10x) + levenshtein <= 1 verify, keeping each "
        "dirty record's best match (min dist, then custkey). All-pairs "
        "comparison never exists — candidates are per-block only, with a "
        "max_block_size cap available for degenerate blocks. Note the "
        "realistic ambiguity the tiebreak resolves: bumping ...3 -> ...4 "
        "collides at distance 0 with the real ...4 record",
)
def record_linkage_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")["customer"]
    dirty = customer.select(
        F.col("c_custkey").alias("d_id"),
        F.concat(
            F.expr("substr(c_name, 1, length(c_name) - 1)"),
            ((F.expr("CAST(substr(c_name, length(c_name), 1) AS INT)") + 1) % 10)
            .cast("string"),
        ).alias("d_name"),
    ).withColumn("block", F.expr("substr(d_name, 1, 17)"))
    clean = customer.withColumn("block", F.expr("substr(c_name, 1, 17)"))
    return D.blocked_fuzzy_links(
        dirty, clean, left_id="d_id", right_id="c_custkey",
        left_text="d_name", right_text="c_name", max_dist=1)


_PR_ITER_SQL = """
  SELECT n.node,
         CAST({base} + 85 * COALESCE(s.c, 0) // 100 AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN (SELECT e.dst AS node, CAST(sum(p.r // d.deg) AS BIGINT) AS c
             FROM edges e
             JOIN {prev} p ON p.node = e.src
             JOIN deg d ON d.src = e.src
             GROUP BY e.dst) s ON s.node = n.node
"""


def _pagerank_oracle(iters: int = 3, scale: int = 10**12) -> str:
    base = f"(({scale} * 15 // 100) // (SELECT n FROM params))"
    its = "".join(
        f", it{i} AS ({_PR_ITER_SQL.format(base=base, prev=('r0' if i == 1 else f'it{i-1}'))})"
        for i in range(1, iters + 1))
    return f"""
WITH edges AS (
  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst FROM lineitem
  UNION
  SELECT DISTINCT l_partkey + 1000000 AS src, l_suppkey AS dst FROM lineitem
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
params AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, CAST({scale} // (SELECT n FROM params) AS BIGINT) AS r
       FROM nodes){its}
SELECT node, r AS rank_scaled FROM it{iters}
"""


@register(
    "graph_pagerank_suppliers",
    oracle=_pagerank_oracle(),
    doc="Integer-scaled PageRank (analytics.graph.pagerank_scaled) over "
        "the undirected supplier<->part co-purchase graph from lineitem "
        "(parts offset by 1e6 into the shared node id space). Ranks are "
        "BIGINTs: contribution = rank div out_degree, damping all-integer "
        "— order-independent integer sums make the iterative result "
        "bit-exact across engines, which is why a 3-iteration unrolled "
        "SQL oracle can check it at all. Per iteration: one AQE-decided "
        "join of the rank frame onto edge sources + one integer-sum "
        "groupBy on dst; lineage cuts via localCheckpoint on long runs",
)
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics.graph import pagerank_scaled

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    fwd = li.select(F.col("l_suppkey").cast("long").alias("src"),
                    (F.col("l_partkey") + 1000000).cast("long").alias("dst"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return pagerank_scaled(edges, iterations=3)


def _merkle_piece_sql(col: str) -> str:
    """Length-prefixed null-safe field encoding, mirroring
    reconcile.merkle_tree's row digest."""
    v = f"CAST({col} AS VARCHAR)"
    return (f"CASE WHEN {col} IS NULL THEN 'n' "
            f"ELSE 'v' || length({v}) || ':' || {v} END")


def _merkle_side_sql(src: str, out: str, n_leaves: int = 16,
                     fanout: int = 4) -> str:
    """CTE chain building one side's densified Merkle tree."""
    row_h = _md5h32_sql(f"{_merkle_piece_sql('pk')} || {_merkle_piece_sql('ts')}")
    tile_h = _md5h32_sql("CAST(pk AS VARCHAR)")
    parts = [f"""
{out}_l0x AS (
  SELECT {tile_h} % {n_leaves} AS node_id,
         bit_xor({row_h}) AS digest, count(*) AS n
  FROM {src} GROUP BY 1
),
{out}_l0 AS (
  SELECT t.node_id, COALESCE(x.digest, 0) AS digest,
         CAST(COALESCE(x.n, 0) AS BIGINT) AS n
  FROM generate_series(0, {n_leaves - 1}) AS t(node_id)
  LEFT JOIN {out}_l0x x USING (node_id)
)"""]
    lvl, nodes = 0, n_leaves
    while nodes > 1:
        nodes //= fanout
        lvl += 1
        parts.append(f"""
{out}_l{lvl} AS (
  SELECT node_id // {fanout} AS node_id, bit_xor(digest) AS digest,
         CAST(sum(n) AS BIGINT) AS n
  FROM {out}_l{lvl - 1} GROUP BY 1
)""")
    union = "\nUNION ALL ".join(
        f"SELECT {i} AS level, node_id, digest, n FROM {out}_l{i}"
        for i in range(lvl + 1))
    parts.append(f"\n{out} AS (\n{union}\n)")
    return ",".join(parts)


@register(
    "reconcile_merkle_ranges",
    oracle=f"""
WITH {_CDC_BASE_SQL},
{_merkle_side_sql('t0', 'ms')},
{_merkle_side_sql('t1', 'mt')}
SELECT s.level, s.node_id,
       s.digest AS digest_src, t.digest AS digest_tgt,
       s.n AS n_src, t.n AS n_tgt
FROM ms s JOIN mt t USING (level, node_id)
WHERE s.digest <> t.digest OR s.n <> t.n
""",
    doc="Merkle-range anti-entropy (reconcile.merkle_tree/merkle_diff): "
        "hierarchical xor-digest trees over hash-tiled key ranges for the "
        "T0/T1 snapshot fixture, reporting every out-of-sync tree node — "
        "the Cassandra-repair structure that finds divergent ranges "
        "without shipping rows. Digests are bit_xor of portable per-row "
        "hashes (order/partition-independent => engine-exact); parents "
        "compose by the same xor so a repair walks root-down and prunes "
        "clean subtrees, reserving the row-level diff for dirty leaves. "
        "Tree build is one groupBy per level over the level below "
        "(16 -> 4 -> 1 rows here), nothing row-shaped ever recompared",
)
def reconcile_merkle_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries import _cdc_snapshots
    from .reconcile import merkle_diff, merkle_tree

    t0, t1 = _cdc_snapshots(spark, sf_dir)
    src = merkle_tree(t0, "pk", ["ts"], n_leaves=16, fanout=4)
    tgt = merkle_tree(t1, "pk", ["ts"], n_leaves=16, fanout=4)
    return merkle_diff(src, tgt)


@register(
    "events_concurrency_sweep",
    oracle="""
WITH iv AS (
  SELECT event_id, event_type, epoch_ms(ts) AS s,
         epoch_ms(ts) + TRY_CAST(CASE WHEN isnan(value * 1000) THEN NULL
                                      ELSE round(value * 1000) END
                                 AS BIGINT) AS e
  FROM events
),
pts AS (
  SELECT event_type, s AS t, 1 AS d, event_id FROM iv
  UNION ALL
  SELECT event_type, e AS t, -1 AS d, event_id FROM iv
),
run AS (
  SELECT event_type,
         CAST(sum(d) OVER (PARTITION BY event_type
                           ORDER BY t NULLS FIRST, d,
                                    event_id NULLS FIRST) AS BIGINT) AS c
  FROM pts
)
SELECT r.event_type, r.max_concurrent, n.n_intervals
FROM (SELECT event_type, max(c) AS max_concurrent FROM run GROUP BY event_type) r
JOIN (SELECT event_type, count(*) AS n_intervals FROM iv GROUP BY event_type) n
  USING (event_type)
""",
    doc="Interval-concurrency sweep line: each event opens a half-open "
        "interval [ts, ts + value seconds); +1/-1 boundary points sorted "
        "per event_type with a total (t, delta, event_id) order — ends "
        "before starts at a shared instant, so touching intervals don't "
        "overlap — and a running window sum gives instantaneous "
        "concurrency, maxed per group. The classic peak-load/occupancy "
        "profile: one shuffle on the group key, 2|n| boundary rows, no "
        "interval self-join (which would be O(n^2) per key at 100 TB). "
        "Millisecond integer timeline keeps both engines exact",
)
def events_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .temporal import interval_peak_concurrency

    events = _t(spark, sf_dir, "events")["events"]
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    # try_cast: a poison value (±1e32) makes the duration un-castable —
    # the interval ends up NULL-bounded; its boundary points sort to
    # the head of the sweep (NULLS FIRST, mirrored in the oracle) and
    # cancel out before any real timestamp, instead of CAST_OVERFLOW
    # killing the job (r9 ANSI discipline)
    iv = events.select(
        "event_id", "event_type", ms.alias("s"),
        (ms + F.round(F.col("value") * 1000).try_cast("long")).alias("e"))
    return interval_peak_concurrency(iv, "event_type")


@register(
    "events_type_bitmap_profile",
    oracle="""
WITH idx AS (
  SELECT event_type,
         CAST(row_number() OVER (ORDER BY event_type NULLS FIRST) - 1 AS BIGINT) AS bit
  FROM (SELECT DISTINCT event_type FROM events)
)
SELECT e.user_id,
       CAST(bit_or(1 << idx.bit) AS BIGINT) AS type_bitmap,
       CAST(count(DISTINCT e.event_type) AS BIGINT) AS n_types
FROM events e JOIN idx USING (event_type)
GROUP BY e.user_id
""",
    doc="Per-user behavior bitmap: event types map to bit positions "
        "(alphabetical, data-driven — the tiny distinct-types frame ranks "
        "in one reduced window and broadcast-joins back), then one "
        "groupBy folds each user's types into a single BIGINT via bit_or "
        "— the roaring-bitmap-style presence encoding that makes segment "
        "membership tests (did X and Y but not Z) pure integer masks "
        "downstream. Map-side partial bit_or keeps shuffle rows at "
        "|users| regardless of event count",
)
def events_type_bitmap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")["events"]
    idx = (events.select("event_type").distinct()
           .select("event_type",
                   (F.row_number().over(Window.orderBy("event_type")) - 1)
                   .cast("long").alias("bit")))
    return (events.join(F.broadcast(idx), "event_type")
            .groupBy("user_id")
            .agg(F.expr("bit_or(1L << bit)").cast("long").alias("type_bitmap"),
                 F.countDistinct("event_type").cast("long").alias("n_types")))


@register(
    "sketch_quantile_grouped",
    oracle="""
SELECT o_orderstatus,
       CAST(greatest(0, least(15,
         floor((o_totalprice - 0.0) * 16 / 500000.0))) AS BIGINT) AS bin,
       count(*) AS cnt
FROM orders
WHERE o_totalprice IS NOT NULL
GROUP BY 1, 2
""",
    doc="Per-group histogram sketches (sketch.quantile_histogram_grouped): "
        "o_totalprice distribution per order status, 16 equi-width bins "
        "over [0, 500k) — one map-side-combined groupBy shuffling at most "
        "|groups| x bins rows per partition at any input size. Cells "
        "merge across shards by per-(group,bin) sum and collapse to the "
        "global sketch by dropping the group key; bin arithmetic is one "
        "IEEE multiply/divide + floor, identical across engines",
)
def sketch_quantile_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import sketch as SK
    orders = _t(spark, sf_dir, "orders")["orders"]
    return SK.quantile_histogram_grouped(
        orders, "o_orderstatus", "o_totalprice", lo=0.0, hi=500000.0, bins=16)


@register(
    "sketch_hll_setops",
    oracle=f"""
WITH h AS (
  SELECT event_type, {_md5h32_sql('CAST(user_id AS VARCHAR)')} AS h
  FROM events WHERE event_type IN ('click', 'purchase')
),
built AS (
  SELECT event_type AS seg, h % 64 AS register_id,
         max(CASE WHEN h // 64 = 0 THEN 27
                  ELSE 27 - length(bin(h // 64)) END) AS max_rho
  FROM h GROUP BY 1, 2
),
tagged AS (
  SELECT seg, register_id, max_rho FROM built
  UNION ALL
  SELECT 'union' AS seg, register_id, max(max_rho) AS max_rho
  FROM built GROUP BY 2
),
segs AS (SELECT unnest(['click', 'purchase', 'union']) AS seg)
SELECT s.seg, t.register_id, CAST(COALESCE(g.max_rho, 0) AS INT) AS max_rho
FROM segs s
CROSS JOIN generate_series(0, 63) AS t(register_id)
LEFT JOIN tagged g ON g.seg = s.seg AND g.register_id = t.register_id
""",
    doc="HLL sketch set algebra: clickers, purchasers, and their UNION as "
        "register tables (m=64) in one pass — union-of-sets IS "
        "per-register max, computed here "
        "from the grouped build without rescanning events. A driver-side "
        "HLL estimate over the three 64-row tables then yields "
        "|A|, |B|, |A∪B| and, by inclusion-exclusion, the intersection "
        "estimate — overlap analysis whose distributed cost is "
        "independent of user count. Densified to 3 x 64 rows",
)
def sketch_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import sketch as SK
    events = _t(spark, sf_dir, "events")["events"]
    two = events.filter(F.col("event_type").isin("click", "purchase"))
    grouped = SK.hll_registers_grouped(
        two.select(F.col("event_type").alias("seg"), "user_id"),
        "seg", "user_id", m=64
    ).localCheckpoint(eager=True)  # read twice below; scan events once
    union_regs = (grouped.groupBy("register_id")
                  .agg(F.max("max_rho").alias("max_rho"))
                  .select(F.lit("union").alias("seg"), "register_id", "max_rho"))
    # densify over the DECLARED segment domain, not the observed one:
    # hll_registers_grouped emits m rows per segment PRESENT IN THE
    # DATA, but the "3 x 64 rows" contract (and the oracle's fixed seg
    # list) holds even when a segment has zero events — an all-zero
    # register table IS that segment's sketch (estimate 0), and overlap
    # analysis downstream must not lose a leg because a tile had no
    # purchases. Found by the r15 all-ties oracle sweep (single-type
    # fixture -> 0 rows vs the oracle's 192). The grid is 3x64 literal
    # rows — bounded, broadcast-sized by construction.
    segs = spark.createDataFrame(
        [("click",), ("purchase",), ("union",)], "seg STRING")
    grid = segs.crossJoin(
        spark.range(64).select(F.col("id").cast("long").alias("register_id")))
    return (grid.join(grouped.unionByName(union_regs),
                      ["seg", "register_id"], "left")
            .select("seg", "register_id",
                    F.coalesce(F.col("max_rho"), F.lit(0).cast("int"))
                     .alias("max_rho")))


@register(
    "dedup_cluster_keepers",
    oracle=_minhash_oracle(recursive=True, max_bucket_size=256, tail="""
, edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS id, src AS label FROM edges
  UNION
  SELECT e.src AS id, r.label
  FROM edges e JOIN reach r ON e.dst = r.id
),
clusters AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
members AS (
  SELECT c.cluster_id, c.doc_id, length(d.text) AS quality
  FROM clusters c JOIN docs d USING (doc_id)
)
SELECT cluster_id, doc_id AS keeper_id, quality AS keeper_quality, n_members
FROM (SELECT *,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id) AS rn,
             CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS n_members
      FROM members)
WHERE rn = 1
"""),
    doc="Quality-aware keeper selection (dedup.cluster_keepers) on top of "
        "the MinHash-LSH connected components: each near-dup cluster "
        "keeps its LONGEST member (quality = text length here; any score "
        "plugs in) under a total (quality desc, id) order — the "
        "C4/RefinedWeb policy, vs. the min-id canonical label which only "
        "names the cluster. On the truncated-copy fixture the full "
        "original always survives. One window shuffle over cluster_id",
)
def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _near_fixture(spark, sf_dir)
    pairs = _shared_capped_lsh(spark, sf_dir)[1]
    clusters = D.connected_components(pairs)
    quality = docs.select("doc_id",
                          F.length("text").cast("long").alias("quality"))
    return D.cluster_keepers(clusters, quality)


@register(
    "orders_revenue_share",
    oracle="""
WITH rev AS (
  SELECT n.n_name,
         sum(TRY_CAST(o.o_totalprice AS DECIMAL(18,2))) AS nation_rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
)
SELECT n_name,
       CAST(nation_rev AS DOUBLE) AS nation_rev,
       round(CAST(nation_rev AS DOUBLE)
             / CAST(sum(nation_rev) OVER () AS DOUBLE), 6) AS share
FROM rev
""",
    doc="Percent-of-total contribution: revenue per customer nation and "
        "its share of the whole book — the ratio_to_report window "
        "pattern. Revenue accumulates in exact DECIMAL (order-immune), "
        "the share divides two identical doubles once, and the total "
        "rides an unpartitioned window over the ALREADY-AGGREGATED "
        "25-row frame (never the fact table). Dimension joins broadcast",
)
def orders_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = _t(spark, sf_dir, "orders", "customer", "nation")
    rev = (t["orders"]
           .join(F.broadcast(t["customer"]),
                 F.col("c_custkey") == F.col("o_custkey"))
           .join(F.broadcast(t["nation"]),
                 F.col("n_nationkey") == F.col("c_nationkey"))
           .groupBy("n_name")
           .agg(F.sum(F.col("o_totalprice").try_cast("decimal(18,2)"))
                .alias("nation_rev")))
    total = F.sum("nation_rev").over(Window.partitionBy())
    return rev.select(
        "n_name",
        F.col("nation_rev").cast("double").alias("nation_rev"),
        F.round(F.col("nation_rev").cast("double") / total.cast("double"), 6)
         .alias("share"))


@register(
    "curation_report_by_source",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
       round(avg(CASE WHEN n_chars IS NULL THEN NULL
                      WHEN n_chars < 200 THEN 1.0 ELSE 0.0 END), 6)
         AS pct_short,
       round(avg(CASE WHEN lang IS NULL THEN NULL
                      WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) AS pct_en
FROM documents
GROUP BY source
""",
    doc="Per-source corpus curation report: volume, language spread, mean "
        "length, and the two filter rates every web-corpus pipeline "
        "tracks per provenance bucket (too-short share, target-language "
        "share) — one map-side-combined groupBy over the documents scan; "
        "the indicator averages are exact integer-in-double sums",
)
def curation_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return (docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
        F.round(F.avg((F.col("n_chars") < 200).cast("double")), 6)
         .alias("pct_short"),
        F.round(F.avg((F.col("lang") == "en").cast("double")), 6)
         .alias("pct_en")))


@register(
    "cdc_ingest_dedup",
    oracle=_minhash_oracle(corpus_cap=("doc_id < 1000000", 256), tail="""
, cross_pairs AS (
  SELECT id_a AS corpus_id, id_b AS new_id FROM pairs
  WHERE id_a < 1000000 AND id_b >= 1000000
),
best AS (
  SELECT new_id, min(corpus_id) AS matched_corpus_id
  FROM cross_pairs GROUP BY new_id
)
SELECT d.doc_id AS new_id, b.matched_corpus_id,
       CASE WHEN b.new_id IS NULL THEN 'keep' ELSE 'drop' END AS action
FROM (SELECT doc_id FROM docs WHERE doc_id >= 1000000) d
LEFT JOIN best b ON b.new_id = d.doc_id
"""),
    doc="Incremental-ingest dedup (dedup.cross_corpus_lsh_pairs): the "
        "arriving batch (here the first-word-dropped near-dup copies, "
        "standing in for a CDC insert set) signs only ITS OWN documents "
        "and band-joins against the existing corpus's signatures — cost "
        "scales with the batch, never the corpus, unlike re-running "
        "within-corpus LSH over corpus ∪ batch. Each new doc keeps or "
        "drops on its best (min-id) corpus match. The oracle derives the "
        "same pair set from the union formulation restricted to "
        "cross-frame pairs, proving the two formulations equivalent",
)
def cdc_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _near_fixture(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") < 1000000)
    new = docs.filter(F.col("doc_id") >= 1000000)
    pairs = D.cross_corpus_lsh_pairs(
        D.minhash_signatures(new, n=3, num_hashes=16),
        D.minhash_signatures(corpus, n=3, num_hashes=16),
        bands=4, rows_per_band=4, max_bucket_size=256)
    best = pairs.groupBy("new_id").agg(
        F.min("corpus_id").alias("matched_corpus_id"))
    return (new.select(F.col("doc_id").alias("new_id"))
            .join(best, "new_id", "left")
            .select("new_id", "matched_corpus_id",
                    F.when(F.col("matched_corpus_id").isNull(), "keep")
                     .otherwise("drop").alias("action")))


@register(
    "events_attribution_journeys",
    oracle="""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'click' THEN event_id END AS click_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
  FROM events
),
j AS (
  SELECT *, COALESCE(sum(isp) OVER (
           PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS journey
  FROM ev
),
t AS (
  SELECT *,
    first_value(click_id IGNORE NULLS) OVER (
      PARTITION BY user_id, journey ORDER BY ts NULLS FIRST, event_id NULLS FIRST
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      AS first_click_id,
    last_value(click_id IGNORE NULLS) OVER (
      PARTITION BY user_id, journey ORDER BY ts NULLS FIRST, event_id NULLS FIRST
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id,
    count(click_id) OVER (PARTITION BY user_id, journey) AS n_clicks
  FROM j
)
SELECT event_id AS purchase_id, user_id, CAST(journey AS BIGINT) AS journey,
       first_click_id, last_click_id, CAST(n_clicks AS BIGINT) AS n_clicks
FROM t WHERE event_type = 'purchase'
""",
    doc="First/last-touch conversion attribution: each purchase closes a "
        "journey (events since the user's previous purchase); within it, "
        "first_value/last_value IGNORE NULLS over the click-id column "
        "pick the opening and closing clicks, and a running purchase "
        "count IS the journey id — so attribution needs exactly two "
        "windows sharing one user_id shuffle (the journey window "
        "sub-partitions the same rows), no self-join of purchases "
        "against clicks (which goes quadratic on active users at "
        "100 TB). Total (ts, event_id) order keeps both engines exact",
)
def events_attribution_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")["events"]
    ev = events.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id"))
         .alias("click_id"),
        (F.col("event_type") == "purchase").cast("int").alias("isp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    j = ev.withColumn(
        "journey",
        F.coalesce(
            F.sum("isp").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).cast("long"))
    wj = Window.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    t = j.select(
        "*",
        F.first("click_id", ignorenulls=True).over(
            wj.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)).alias("first_click_id"),
        F.last("click_id", ignorenulls=True).over(
            wj.rowsBetween(Window.unboundedPreceding, -1))
         .alias("last_click_id"),
        F.count("click_id").over(
            wj.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)).alias("n_clicks"))
    return (t.filter(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("purchase_id"), "user_id",
                    "journey", "first_click_id", "last_click_id", "n_clicks"))


@register(
    "quality_bigram_logprob",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i + 1] AS big
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 2
),
cbg AS (SELECT big, count(*) AS c2 FROM bg GROUP BY big),
cw1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1)
SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(-avg(ln(CAST(c2 AS DOUBLE)) - ln(CAST(c1 AS DOUBLE))), 6)
         AS avg_neg_logprob
FROM bg JOIN cbg USING (big) JOIN cw1 USING (w1)
GROUP BY bg.doc_id
""",
    doc="Bigram LM quality score (text.bigram_logprob): per-doc average "
        "negative conditional log-prob under the corpus bigram model — "
        "word-order-sensitive fluency ranking where the unigram proxy is "
        "bag-of-words. One bigram explode feeds the bigram counts, the "
        "first-word marginal, and the scoring join; both count frames "
        "collapse to vocab size so AQE broadcasts them",
)
def quality_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return TX.bigram_logprob(docs)


# -- round-5 wave 3: heavy hitters, gap-fill, containment, triangles, -------
#    anomalies, sliding windows, BPE, DSIR, equi-depth


_EXCERPT_FIXTURE_SQL = """
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         array_to_string(ws[1:greatest(3, len(ws) // 3)], ' ') AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
)
"""


def _excerpt_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ (doc_id+3000000, first third of each doc's words) —
    the subset-duplication fixture: an excerpt is ~fully CONTAINED in
    its source but Jaccard-dissimilar to it. Single-scan explode like
    the other fixtures."""
    docs = _t(spark, sf_dir, "documents")["documents"]
    ws = F.split(F.col("text"), " ")
    excerpt = F.concat_ws(
        " ", F.slice(ws, 1, F.greatest(F.lit(3), F.expr("size(split(text, ' ')) div 3"))))
    pair = F.array(
        F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text")),
        F.struct((F.col("doc_id") + 3000000).alias("doc_id"),
                 excerpt.alias("text")))
    return (docs.select(F.explode(pair).alias("d"))
            .select("d.doc_id", "d.text"))


@register(
    "dedup_ngram_containment",
    oracle=f"""
WITH {_EXCERPT_FIXTURE_SQL},
{_SHINGLE_SQL},
sizes AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, common, sa.n_grams AS size_a, sb.n_grams AS size_b
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 5 * common >= 4 * least(sa.n_grams, sb.n_grams)
""",
    doc="N-gram CONTAINMENT pairs (dedup.ngram_containment_pairs, "
        "threshold 4/5): catches subset duplication — an excerpt pasted "
        "into a longer page — that Jaccard's union denominator washes "
        "out. Integer-exact cross-multiplied threshold; excerpt fixture "
        "plants the containment pairs",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_containment_pairs(_excerpt_fixture(spark, sf_dir), n=3,
                                     threshold_num=4, threshold_den=5)


@register(
    "sketch_heavy_hitters",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents),
c AS (SELECT item, count(*) AS freq FROM tok GROUP BY item),
n AS (SELECT count(*) AS n FROM tok)
SELECT item, CAST(freq AS BIGINT) AS freq
FROM c, n WHERE freq * 257 > n
""",
    doc="Exact frequent items via Misra-Gries candidates + recount "
        "(sketch.frequent_items, capacity 256): per-partition bounded-"
        "memory MG summaries guarantee every item with freq > n/257 "
        "survives; the exact recount over the candidate semi-join makes "
        "the answer provably equal to the plain GROUP BY HAVING form "
        "without ever shuffling the full distinct-key space",
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import sketch as SK
    docs = _t(spark, sf_dir, "documents")["documents"]
    tok = docs.select(F.explode(TX.tokens("text")).alias("item"))
    return SK.frequent_items(tok, "item", capacity=256)


@register(
    "events_resample_ffill",
    oracle="""
WITH obs AS (
  SELECT user_id,
         CAST(floor(epoch(ts)/3600) AS BIGINT)*3600 AS bucket_start, ts, value,
         row_number() OVER (
           PARTITION BY user_id, CAST(floor(epoch(ts)/3600) AS BIGINT)*3600
           ORDER BY ts DESC, value DESC) AS rn
  FROM events
),
o1 AS (SELECT user_id, bucket_start, value FROM obs WHERE rn = 1),
span AS (SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
         FROM o1 GROUP BY user_id),
grid AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket_start
         FROM span)
SELECT g.user_id, g.bucket_start,
       last_value(o1.value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_start
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM grid g LEFT JOIN o1 USING (user_id, bucket_start)
""",
    doc="Hourly resample + forward fill (temporal.resample_forward_fill): "
        "the hypertable time_bucket_gapfill/locf operator — dense per-user "
        "hourly grid built engine-side with sequence(), latest observation "
        "per bucket via one struct-max aggregation, fill via one "
        "last(ignorenulls) window",
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .temporal import resample_forward_fill
    events = _t(spark, sf_dir, "events")["events"]
    return resample_forward_fill(events, "user_id", "ts", "value",
                                 bucket_seconds=3600)


@register(
    "graph_triangle_count",
    oracle="""
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                  greatest(a.l_partkey, b.l_partkey) AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT CAST((SELECT count(*)
  FROM pairs e1
  JOIN pairs e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v) AS BIGINT) AS n_triangles
""",
    doc="Triangle count over the part co-purchase graph "
        "(graph.triangle_count): degree-ordered wedge join (Suri & "
        "Vassilvitskii) — each triangle counted once at its smallest-"
        "degree vertex, celebrity vertices produce ~no wedges because "
        "their edges orient inward; oracle counts the same triangles "
        "via the canonical u<v formulation",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import graph as G
    li = _t(spark, sf_dir, "lineitem")["lineitem"].select(
        "l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("src"),
                     F.col("b.l_partkey").alias("dst")))
    return G.triangle_count(edges)


@register(
    "events_anomaly_mad",
    oracle="""
WITH med AS (
  -- finite-only model (oracle-mirrored in the lane): one NaN/inf
  -- poison value must not shift the median, and the engines disagree
  -- on non-finite ordering inside interpolated percentiles anyway;
  -- every row still counts in n / n_outliers (NaN adev ranks above
  -- any 3*MAD fence in both engines' total order)
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events WHERE isfinite(value) GROUP BY event_type
),
d AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM d
  WHERE isfinite(adev) GROUP BY event_type
)
SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
       round(any_value(d.med), 6) AS med,
       round(any_value(mad.mad), 6) AS mad,
       CAST(sum(CASE WHEN d.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM d JOIN mad USING (event_type)
GROUP BY d.event_type
""",
    doc="Robust anomaly detection per event type: median + MAD (median "
        "absolute deviation) with |x - med| > 3*MAD outlier flagging — "
        "the outlier gate that, unlike mean/stddev z-scores, is not "
        "dragged by the outliers themselves. Exact interpolated "
        "percentiles (both engines use the same linear interpolation), "
        "5-row model frames broadcast back onto the stream",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")["events"].select("event_type", "value")

    def finite(c):
        # oracle-mirrored: non-finite poison must not shift the
        # median/MAD model (rows still count in n / n_outliers)
        return ~F.isnan(c) & (F.abs(c) < F.lit(float("inf")))

    med = events.filter(finite(F.col("value"))).groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med"))
    d = (events.join(F.broadcast(med), "event_type")
         .select("event_type", "med",
                 F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = (d.filter(finite(F.col("adev"))).groupBy("event_type")
           .agg(F.percentile("adev", 0.5).alias("mad")))
    return (d.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"),
                 F.round(F.any_value("med"), 6).alias("med"),
                 F.round(F.any_value("mad"), 6).alias("mad"),
                 F.sum(F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0))
                 .cast("long").alias("n_outliers")))


@register(
    "events_sliding_window_topk",
    oracle="""
WITH wc AS (
  SELECT (CAST(floor(epoch(ts)/10800) AS BIGINT)*10800 - off) AS wstart,
         event_type, count(*) AS n_events
  FROM events,
       unnest([CAST(0 AS BIGINT), CAST(10800 AS BIGINT)]) AS t(off)
  WHERE ts IS NOT NULL
  GROUP BY 1, 2
)
SELECT wstart, event_type, CAST(n_events AS BIGINT) AS n_events
FROM (SELECT *, row_number() OVER (
        PARTITION BY wstart
        ORDER BY n_events DESC, event_type NULLS FIRST) AS rk
      FROM wc)
WHERE rk <= 3
""",
    doc="Sliding-window trending top-k: 6-hour windows sliding every 3 "
        "hours (each event in exactly 2 overlapping windows — Spark's "
        "native F.window slide semantics, reproduced arithmetically in "
        "the oracle), top-3 event types per window by count with "
        "deterministic (count desc, type) ties. The window explode is "
        "map-side; the rank runs over the aggregated window x type frame",
)
def events_sliding_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    events = _t(spark, sf_dir, "events")["events"]
    wc = (events.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"),
                         "event_type")
          .agg(F.count("*").alias("n_events"))
          .select(F.unix_timestamp("w.start").alias("wstart"),
                  "event_type", "n_events"))
    rk = F.row_number().over(
        Window.partitionBy("wstart").orderBy(F.desc("n_events"), "event_type"))
    return (wc.withColumn("rk", rk).filter(F.col("rk") <= 3)
            .select("wstart", "event_type", F.col("n_events").cast("long").alias("n_events")))


@register(
    "bpe_top_pairs",
    oracle="""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
wf AS (SELECT word, count(*) AS freq FROM w WHERE word <> '' GROUP BY word),
p AS (
  SELECT substr(word, i, 1) AS lhs, substr(word, i + 1, 1) AS rhs, freq
  FROM wf, unnest(generate_series(1, length(word) - 1)) AS t(i)
  WHERE length(word) >= 2
)
SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS pair_freq
FROM p GROUP BY lhs, rhs
ORDER BY pair_freq DESC, lhs, rhs
LIMIT 30
""",
    doc="BPE merge statistics, round 1 (text.bpe_pair_counts): corpus "
        "adjacent-character-pair frequencies computed over the WORD "
        "FREQUENCY table (fast-BPE formulation — cost is vocabulary-"
        "shaped, not corpus-shaped, after one word-count shuffle); top "
        "30 with deterministic ties: the statistic every BPE merge "
        "round ranks",
)
def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return (TX.bpe_pair_counts(docs)
            .select(F.col("left").alias("lhs"), F.col("right").alias("rhs"),
                    "pair_freq")
            .orderBy(F.desc("pair_freq"), "lhs", "rhs").limit(30))


@register(
    "bpe_top_pairs_batched",
    oracle="""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
wf AS (SELECT word, count(*) AS freq FROM w WHERE word <> '' GROUP BY word),
p AS (
  SELECT substr(word, i, 1) AS lhs, substr(word, i + 1, 1) AS rhs, freq
  FROM wf, unnest(generate_series(1, length(word) - 1)) AS t(i)
  WHERE length(word) >= 2
),
pc AS (SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS pair_freq
       FROM p GROUP BY lhs, rhs),
ranked AS (
  SELECT lhs, rhs, pair_freq,
         CAST(row_number() OVER (ORDER BY pair_freq DESC, lhs, rhs)
              AS INTEGER) AS rk
  FROM (SELECT * FROM pc ORDER BY pair_freq DESC, lhs, rhs LIMIT 64)
),
sel AS (
  SELECT a.* FROM ranked a
  WHERE NOT EXISTS (
    SELECT 1 FROM ranked b
    WHERE b.rk < a.rk
      AND (b.lhs IN (a.lhs, a.rhs) OR b.rhs IN (a.lhs, a.rhs)
           OR (b.lhs || b.rhs) IN (a.lhs, a.rhs)))
)
SELECT lhs, rhs, pair_freq, rk FROM sel ORDER BY rk LIMIT 8
""",
    doc="One BATCHED BPE merge round (text.select_nonconflicting_merges "
        "over round-1 pair counts): the up-to-8 highest-ranked pairs "
        "blocked by no higher-ranked pair (shared symbol, or symbol == "
        "its fused string). Symbol-disjoint merges can't change each "
        "other's counts or occurrences, so one round applies the whole "
        "batch with ONE driver collect + ONE rewrite job instead of one "
        "Spark job per merge. The blocking rule is "
        "deliberately non-transitive so both engines express it as one "
        "self-join, exactly mirrored here and in the oracle",
)
def bpe_top_pairs_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return (TX.select_nonconflicting_merges(TX.bpe_pair_counts(docs),
                                            k=8, pool=64)
            .select(F.col("left").alias("lhs"), F.col("right").alias("rhs"),
                    "pair_freq", "rk"))


@register(
    "dsir_importance_weights",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS tgt, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tb AS (SELECT doc_id, tgt, {_md5h32_sql('tok')} % 1024 AS bucket FROM tok),
c AS (SELECT bucket, count(*) AS n_raw,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS n_tgt
      FROM tb GROUP BY bucket),
t AS (SELECT sum(n_raw) AS nr, sum(n_tgt) AS nt FROM c)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(ln(CAST(c.n_tgt + 1 AS DOUBLE)) - ln(CAST(t.nt + 1024 AS DOUBLE))
               - ln(CAST(c.n_raw + 1 AS DOUBLE)) + ln(CAST(t.nr + 1024 AS DOUBLE))), 6)
         AS log_weight
FROM tb JOIN c USING (bucket), t
GROUP BY doc_id
""",
    doc="DSIR data selection (text.dsir_importance_weights; Xie et al. "
        "2023): per-doc log importance weight under hashed-unigram "
        "bag-of-words models of the target (lang='en' sample) vs the raw "
        "corpus — the importance-resampling score for selecting "
        "target-like pretraining data. One token explode feeds both "
        "1024-bucket model aggregations (broadcast back), one id rollup",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return TX.dsir_importance_weights(docs, F.col("lang") == "en",
                                      num_buckets=1024)


@register(
    "orders_equidepth_hist",
    oracle="""
WITH b AS (
  SELECT quantile_cont(o_totalprice,
    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs
  FROM orders
)
SELECT (CASE WHEN o_totalprice >= qs[1] THEN 1 ELSE 0 END
      + CASE WHEN o_totalprice >= qs[2] THEN 1 ELSE 0 END
      + CASE WHEN o_totalprice >= qs[3] THEN 1 ELSE 0 END
      + CASE WHEN o_totalprice >= qs[4] THEN 1 ELSE 0 END
      + CASE WHEN o_totalprice >= qs[5] THEN 1 ELSE 0 END
      + CASE WHEN o_totalprice >= qs[6] THEN 1 ELSE 0 END
      + CASE WHEN o_totalprice >= qs[7] THEN 1 ELSE 0 END) AS bucket,
  CAST(count(*) AS BIGINT) AS n_orders,
  min(o_totalprice) AS lo, max(o_totalprice) AS hi
FROM orders, b
GROUP BY 1
""",
    doc="Equi-depth histogram via exact percentile boundaries: 7 "
        "interpolated octile cuts from ONE aggregation pass, bucket "
        "assignment as a pure comparison projection, per-bucket stats in "
        "a bounded 8-row groupBy — the scalable shape (no global ntile "
        "sort; boundary ties land in the upper bucket identically in "
        "both engines)",
)
def orders_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"].select("o_totalprice")
    qs = orders.agg(F.percentile(
        "o_totalprice",
        F.array(*[F.lit(x) for x in
                  (0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875)])).alias("qs"))
    bucket = sum(
        F.when(F.col("o_totalprice") >= F.col("qs")[i], 1).otherwise(0)
        for i in range(7))
    return (orders.crossJoin(F.broadcast(qs))
            .select(bucket.alias("bucket"), "o_totalprice")
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias("n_orders"),
                 F.min("o_totalprice").alias("lo"),
                 F.max("o_totalprice").alias("hi")))


# -- round-5 wave 4: prefix filtering, CMS algebra, entropy, JL, co-occurrence


@register(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
WITH {_NEAR_FIXTURE_SQL},
tk AS (
  SELECT DISTINCT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
  FROM docs
),
sizes AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, common, sa.n AS size_a, sb.n AS size_b
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 10 * common >= 9 * (sa.n + sb.n - common)
""",
    doc="PPJoin-style prefix-filtered set-similarity self-join "
        "(dedup.prefix_filter_jaccard_pairs): candidates only from "
        "shared PREFIX tokens under the ascending-document-frequency "
        "order (rare tokens first — the candidate join fans out by rare-"
        "token df, never stopword df), then exact array_intersect "
        "verification. Lossless by the prefix-filter theorem, so the "
        "oracle is the BRUTE-FORCE word-set Jaccard join — equality IS "
        "the losslessness proof",
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.prefix_filter_jaccard_pairs(_near_fixture(spark, sf_dir),
                                         threshold_num=9, threshold_den=10)


def _cms_grid_sql(table: str, key: str, pred: str = "",
                  w: int = 1024, d: int = 4) -> str:
    h1 = _md5h32_sql(f"CAST({key} AS VARCHAR)")
    h2 = f"CAST('0x' || substr(md5(CAST({key} AS VARCHAR)), 9, 8) AS BIGINT)"
    where = f" WHERE {pred}" if pred else ""
    cells = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS depth, (({h1}) + {j} * ({h2})) % {w} AS pos"
        f" FROM {table}{where}" for j in range(d))
    return f"SELECT depth, pos, count(*) AS cnt FROM (\n{cells}\n) GROUP BY depth, pos"


@register(
    "sketch_cms_join_estimate",
    oracle=f"""
WITH ca AS ({_cms_grid_sql('orders', 'o_custkey')}),
cb AS ({_cms_grid_sql('customer', 'c_custkey', 'c_custkey % 3 = 0')}),
ip AS (
  SELECT ca.depth, sum(ca.cnt * cb.cnt) AS ip
  FROM ca JOIN cb ON ca.depth = cb.depth AND ca.pos = cb.pos
  GROUP BY ca.depth
)
SELECT
  CAST((SELECT min(COALESCE(ip.ip, 0))
        FROM (SELECT DISTINCT depth FROM ca) d LEFT JOIN ip USING (depth))
       AS BIGINT) AS est_join_size,
  CAST((SELECT count(*) FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey % 3 = 0) AS BIGINT) AS exact_join_size
""",
    doc="Join-cardinality estimation from Count-Min inner products "
        "(sketch.cms_inner_product; Cormode & Muthukrishnan §4.2): "
        "est(|orders ⋈ customers|) = min over depths of Σ cntA·cntB — "
        "the planner-statistics primitive as mergeable sketch algebra; "
        "estimating the join costs a ≤ d·w-row join, no data moves. "
        "Upper bound by construction; exact count alongside for the "
        "error margin, both deterministic from the shared md5 grid",
)
def sketch_cms_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import sketch as SK
    t = _t(spark, sf_dir, "orders", "customer")
    ca = SK.cms_counts(t["orders"], "o_custkey")
    cb = SK.cms_counts(t["customer"].filter(F.col("c_custkey") % 3 == 0),
                       "c_custkey")
    est = SK.cms_inner_product(ca, cb)
    exact = (t["orders"].join(
        t["customer"].filter(F.col("c_custkey") % 3 == 0),
        F.col("o_custkey") == F.col("c_custkey"))
        .agg(F.count("*").cast("long").alias("exact_join_size")))
    return est.crossJoin(exact)


@register(
    "quality_token_entropy",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
               / CAST(sum(c) AS DOUBLE), 6) AS entropy
FROM c GROUP BY doc_id
""",
    doc="Token-distribution Shannon entropy per doc "
        "(text.token_entropy): H = ln(n) - (1/n)Σ c·ln(c) — the "
        "diversity gate complementing the repetition metrics; template "
        "spam and keyboard-mash both sit low. Two map-side-combined "
        "aggregations, log-space rounding per registry discipline",
)
def quality_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_entropy(_t(spark, sf_dir, "documents")["documents"])


@register(
    "embedding_random_projection",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         -- clamp mirrors random_projection_signs' ±2^31 saturation;
         -- _floor_long_sql supplies Spark's NaN->0 / overflow-saturate
         -- floor (DuckDB's own floor keeps NaN, which its least/
         -- greatest rank ABOVE every number — r16 poison oracle sweep)
         -- NULL qv for a NULL/ragged vector: the lane's zip_with pads
         -- the short side with NULL and its aggregate NULL-propagates,
         -- so every projection is NULL (row KEPT); DuckDB's list_sum
         -- SKIPS NULLs, so the mirror must null the whole vector
         CASE WHEN embedding IS NULL OR len(embedding) <> 64 THEN NULL
              ELSE list_transform(embedding,
           v -> least(greatest({_floor_long_sql('(CAST(v AS DOUBLE) * 100)')},
                               -2147483648), 2147483648)) END AS qv
  FROM embeddings
)
SELECT vec_id,
  CAST(list_sum(list_transform(list_zip(qv, [1, 1, 1, -1, -1, -1, 1, -1, 1, 1, 1, 1, 1, 1, 1, -1, 1, 1, -1, -1, 1, -1, -1, -1, -1, -1, 1, -1, 1, -1, -1, 1, 1, -1, -1, -1, 1, 1, -1, 1, -1, -1, 1, 1, -1, -1, -1, 1, 1, 1, -1, -1, 1, 1, -1, -1, 1, -1, -1, 1, 1, -1, -1, 1]), z -> z[1] * z[2])) AS BIGINT) AS p0,
  CAST(list_sum(list_transform(list_zip(qv, [1, -1, -1, 1, -1, -1, -1, -1, 1, 1, 1, -1, 1, 1, -1, -1, 1, -1, -1, -1, 1, 1, -1, -1, 1, 1, -1, -1, 1, 1, 1, 1, -1, 1, -1, -1, 1, -1, 1, -1, 1, 1, -1, -1, 1, -1, 1, 1, -1, -1, -1, -1, 1, -1, -1, 1, 1, 1, -1, -1, 1, -1, -1, 1]), z -> z[1] * z[2])) AS BIGINT) AS p1,
  CAST(list_sum(list_transform(list_zip(qv, [1, 1, 1, -1, -1, -1, -1, 1, 1, -1, 1, 1, -1, 1, 1, 1, -1, 1, -1, 1, -1, 1, 1, 1, -1, -1, 1, 1, -1, -1, 1, -1, -1, -1, 1, -1, 1, -1, 1, 1, -1, -1, -1, -1, 1, -1, 1, -1, -1, -1, 1, 1, -1, 1, -1, 1, -1, 1, 1, 1, 1, -1, 1, 1]), z -> z[1] * z[2])) AS BIGINT) AS p2,
  CAST(list_sum(list_transform(list_zip(qv, [1, 1, 1, 1, -1, 1, -1, -1, 1, -1, 1, 1, 1, -1, -1, 1, 1, 1, 1, -1, 1, 1, -1, 1, 1, -1, 1, -1, 1, 1, 1, 1, -1, -1, 1, 1, -1, -1, -1, 1, -1, 1, 1, -1, 1, 1, 1, -1, 1, 1, -1, 1, 1, -1, 1, -1, 1, 1, -1, -1, -1, 1, 1, -1]), z -> z[1] * z[2])) AS BIGINT) AS p3,
  CAST(list_sum(list_transform(list_zip(qv, [-1, 1, 1, 1, -1, 1, 1, 1, 1, -1, 1, -1, -1, 1, 1, 1, 1, 1, -1, -1, -1, 1, 1, -1, -1, -1, -1, -1, -1, -1, 1, 1, -1, -1, 1, -1, -1, 1, -1, 1, 1, 1, -1, -1, -1, -1, -1, 1, 1, -1, -1, -1, 1, -1, 1, -1, 1, -1, 1, -1, -1, 1, -1, 1]), z -> z[1] * z[2])) AS BIGINT) AS p4,
  CAST(list_sum(list_transform(list_zip(qv, [1, 1, 1, -1, -1, -1, 1, -1, 1, 1, 1, -1, -1, 1, -1, -1, 1, 1, 1, 1, 1, 1, -1, -1, 1, 1, -1, 1, -1, -1, -1, 1, 1, -1, 1, 1, 1, 1, -1, 1, 1, -1, -1, 1, 1, 1, 1, -1, -1, 1, -1, 1, -1, 1, -1, -1, 1, -1, -1, 1, -1, 1, 1, -1]), z -> z[1] * z[2])) AS BIGINT) AS p5,
  CAST(list_sum(list_transform(list_zip(qv, [-1, 1, 1, 1, 1, 1, 1, -1, 1, -1, -1, 1, -1, -1, -1, -1, -1, 1, 1, 1, -1, -1, -1, 1, -1, 1, -1, -1, -1, 1, -1, -1, 1, -1, 1, -1, -1, -1, -1, -1, -1, 1, -1, -1, -1, -1, 1, 1, 1, 1, 1, 1, -1, -1, -1, 1, -1, -1, 1, -1, 1, -1, -1, -1]), z -> z[1] * z[2])) AS BIGINT) AS p6,
  CAST(list_sum(list_transform(list_zip(qv, [1, 1, -1, -1, 1, -1, -1, 1, -1, 1, 1, -1, -1, -1, 1, -1, -1, -1, 1, -1, -1, 1, 1, 1, -1, -1, -1, 1, -1, -1, 1, 1, 1, -1, 1, -1, -1, -1, -1, -1, -1, 1, -1, 1, 1, -1, -1, -1, -1, 1, -1, -1, 1, 1, -1, 1, 1, 1, -1, -1, -1, -1, -1, -1]), z -> z[1] * z[2])) AS BIGINT) AS p7
FROM q
""",
    doc="Johnson-Lindenstrauss sign projection "
        "(similarity.random_projection_signs; Achlioptas 2003): 64-dim "
        "embeddings down to 8 integer dims via a deterministic md5-"
        "derived ±1 matrix over floor-quantized components — all-integer "
        "so bit-exact across engines; pure map stage, the sign matrix "
        "constant-folds into the plan. The cheap first stage before "
        "LSH/IVF when raw dimensionality is the cost driver",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return S.random_projection_signs(emb, in_dim=64, out_dim=8, scale=100)


@register(
    "item_cooccurrence_similarity",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (SELECT l_partkey, count(*) AS deg FROM op GROUP BY l_partkey),
co AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS cooc
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)
SELECT part_a, part_b, CAST(cooc AS BIGINT) AS cooc,
       CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
       round(CAST(cooc AS DOUBLE)
             / sqrt(CAST(da.deg AS DOUBLE) * CAST(db.deg AS DOUBLE)), 6)
         AS cosine
FROM co
JOIN deg da ON da.l_partkey = part_a
JOIN deg db ON db.l_partkey = part_b
WHERE cooc >= 2
""",
    doc="Item-item co-occurrence similarity over the order-basket "
        "bipartite graph (the market-basket / item-based collaborative-"
        "filtering statistic): cooc counts from one basket self-join "
        "(fan-out bounded by basket size), cosine = cooc/sqrt(deg·deg) "
        "with degree frames joined back — at catalog scale the degree "
        "side is vocabulary-shaped and AQE-broadcast. cooc >= 2 prunes "
        "the singleton tail before the degree join",
)
def item_cooccurrence_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (_t(spark, sf_dir, "lineitem")["lineitem"]
          .select("l_orderkey", "l_partkey").distinct())
    deg = op.groupBy("l_partkey").agg(F.count("*").alias("deg"))
    a, b = op.alias("a"), op.alias("b")
    co = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                 & (F.col("a.l_partkey") < F.col("b.l_partkey")))
          .groupBy(F.col("a.l_partkey").alias("part_a"),
                   F.col("b.l_partkey").alias("part_b"))
          .agg(F.count("*").alias("cooc"))
          .filter(F.col("cooc") >= 2))
    da = deg.select(F.col("l_partkey").alias("part_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("l_partkey").alias("part_b"), F.col("deg").alias("deg_b"))
    return (co.join(da, "part_a").join(db, "part_b")
            .select("part_a", "part_b", F.col("cooc").cast("long").alias("cooc"),
                    F.col("deg_a").cast("long").alias("deg_a"),
                    F.col("deg_b").cast("long").alias("deg_b"),
                    F.round(F.col("cooc").cast("double")
                            / F.sqrt(F.col("deg_a").cast("double")
                                     * F.col("deg_b").cast("double")), 6)
                    .alias("cosine")))
