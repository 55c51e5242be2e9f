"""Corpus-preparation operators for LLM training-data pipelines.

The four canonical steps between "raw corpus" and "training shards"
that aren't plain dedup/quality filtering (those live in ``dedup.py`` /
``text_analysis.py``):

- deterministic train/val/test splitting (hash-bucket assignment);
- benchmark decontamination (n-gram overlap against a held-out set);
- cross-corpus duplicate-span analysis (C4-style repeated-line removal,
  adapted to word spans because the synthetic corpus has no newlines);
- token-budget sequence packing (document → training-sequence layout);
- PII redaction (regex masking with match accounting).

Everything is JVM-side column expressions + equi-joins: per-row work
whole-stage-codegens, candidate joins are broadcast or hash-partitioned
on content hashes — no Python in any hot path, no all-pairs stage, so
each operator's cost is O(corpus tokens) + one bounded shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import track
from ..catalog import table
from ..common import nsize, spread
from ..registry import query
from ..staging import run_staged, staged_builder, staged_oracle

#: Fraction boundaries for the 100-bucket hash split: 80/10/10.
_TRAIN_HI, _VAL_HI = 80, 90

#: Token budget per packed training sequence.
_SEQ_BUDGET = 256

#: Shingle width (words) for decontamination overlap.
_NGRAM = 4

#: Non-overlapping span width (words) for duplicate-span analysis.
_SPAN = 8


@query(
    "q_split_train_test",
    oracle=f"""
    SELECT doc_id,
           bucket,
           CASE WHEN bucket < {_TRAIN_HI} THEN 'train'
                WHEN bucket < {_VAL_HI} THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST((instr('0123456789abcdef', substr(h,1,1))-1)*4096
                + (instr('0123456789abcdef', substr(h,2,1))-1)*256
                + (instr('0123456789abcdef', substr(h,3,1))-1)*16
                + (instr('0123456789abcdef', substr(h,4,1))-1) AS INT) % 100
               AS bucket
      FROM (SELECT doc_id, md5(text) AS h FROM documents)
    )
    """,
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content hash.

    The split key is the first 16 bits of md5(text) mod 100 — a pure
    function of content, so the assignment is stable across runs,
    engines, partitionings, and re-shards (the property row_number- or
    rand()-based splits lack). Narrow map-only plan: no shuffle at all;
    at 100 TB this is a free column alongside the scan, and the split
    column doubles as a partition key for the shard writer. The oracle
    derives the same integer via hex-digit arithmetic (DuckDB has no
    base-conv builtin); values agree because md5 is byte-identical.
    """
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("int") % 100
    ).alias("bucket")
    return d.select("doc_id", bucket).select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < _TRAIN_HI, "train")
        .when(F.col("bucket") < _VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "q_pack_sequences",
    oracle=f"""
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS tok_offset,
           CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // {_SEQ_BUDGET} AS INT) AS seq_id
    FROM (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens
      FROM documents
    )
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: lay documents end-to-end (in
    doc_id order, within their source shard) and assign each to the
    fixed-size training sequence its start offset falls in — the
    contiguous-concat packing used when documents are joined with EOS
    separators and split every ``_SEQ_BUDGET`` tokens.

    The running offset is a window sum PARTITIONED BY SOURCE — each
    shard packs independently (exactly how multi-file training shards
    are built), so no single-task global window exists and the plan is
    one hash shuffle on source + per-partition sort. A truly global
    pack would use the two-pass partition-offset pattern of
    q_ntile_global instead.
    """
    d = table(spark, sf_dir, "documents")
    n_tokens = nsize(F.filter(F.split("text", " "), lambda w: w != ""))
    base = d.select("doc_id", "source", n_tokens.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        offset.alias("tok_offset"),
        F.floor(offset / _SEQ_BUDGET).cast("int").alias("seq_id"),
    )


def _shingle_hashes(width: int) -> Column:
    """Rolling ``width``-word shingle md5s of ``text`` (empty if too short)."""
    words = F.split("text", " ")
    n = F.size(words)
    seq = F.sequence(F.lit(1), n - (width - 1))
    hashes = F.transform(seq, lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, width))))
    # sequence(1, k) DESCENDS for k < 1 — guard short docs to an empty set.
    return F.when(n >= width, hashes).otherwise(F.array().cast("array<string>"))


@query(
    "q_decontaminate",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(w[i:i+{_NGRAM - 1}],' ')) AS h
      FROM words, range(1, 1000) t(i) WHERE i <= len(w) - {_NGRAM - 1}
    ),
    bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 0)
    SELECT s.doc_id,
           CAST(count(b.h) AS INT) AS n_overlap,
           CASE WHEN count(b.h) > 0 THEN 1 ELSE 0 END AS contaminated
    FROM sh s LEFT JOIN bench b ON s.h = b.h
    WHERE s.doc_id % 10 <> 0
    GROUP BY s.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    ``_NGRAM``-word shingle with a held-out benchmark set (stood in by
    ``doc_id % 10 = 0``), reporting the count of distinct overlapping
    shingles per document.

    Scale shape: the benchmark's distinct shingle hashes are SMALL by
    definition (benchmarks are thousands of docs, not billions), so the
    probe is a broadcast hash join against the exploded corpus shingles
    — O(corpus tokens) map-side work, one shuffle for the per-doc
    count, and never a corpus×corpus or corpus-shuffle-by-shingle
    stage. This is the n-gram-overlap decontamination procedure used in
    public LLM training reports (e.g. GPT-3 appendix / Dolma).

    spread() (r11): shingle hashing is the whole cost and ran on the
    single-task one-row-group scan — 2.8 → 1.3 s at sf0.1 with the
    conditional repartition (no-op on a properly-filed lake).
    """
    d = spread(table(spark, sf_dir, "documents"), spark)
    sh = d.select(
        "doc_id", F.explode(F.array_distinct(_shingle_hashes(_NGRAM))).alias("h")
    )
    bench = (
        sh.where(F.col("doc_id") % 10 == 0).select("h").distinct().withColumn("hit", F.lit(1))
    )
    corpus = sh.where(F.col("doc_id") % 10 != 0)
    return (
        corpus.join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id")
        .agg(F.count("hit").cast("int").alias("n_overlap"))
        .select(
            "doc_id",
            "n_overlap",
            F.when(F.col("n_overlap") > 0, 1).otherwise(0).alias("contaminated"),
        )
    )


@query(
    "q_span_dedup",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
    spans AS (
      SELECT doc_id,
             md5(array_to_string(w[(k*{_SPAN}+1):(k*{_SPAN}+{_SPAN})],' ')) AS h
      FROM words, range(0, 1000) t(k) WHERE k*{_SPAN}+1 <= len(w)
    ),
    freq AS (SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h)
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_spans,
           CAST(count(*) FILTER (f.nd > 1) AS INT) AS dup_spans,
           round(CAST(count(*) FILTER (f.nd > 1) AS DOUBLE) / count(*), 4)
             AS dup_ratio
    FROM spans s JOIN freq f USING (h)
    GROUP BY doc_id
    """,
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicate-span analysis (C4's repeated-line filter,
    over fixed ``_SPAN``-word spans because this corpus has no
    newlines): for each document, how many of its non-overlapping spans
    also occur in some OTHER document.

    Two-level aggregation, both shuffle-bounded: span-hash frequency is
    a groupBy on the 16-byte hash (map-side partial agg collapses
    within-task repeats), then a hash join back to the span list and a
    per-doc count. Span strings never shuffle — only their md5s — so
    shuffle volume is O(spans × 16 B) regardless of document size. The
    removal step (rewriting text minus duplicated spans) is the same
    join feeding a filter + concat_ws instead of a count.
    """
    # NULL text has NO spans (drop before the explode): legacy
    # size(NULL) = -1 otherwise feeds sequence(0, -1) = [0, -1] and the
    # doc gains two phantom md5('') spans that poison the frequency
    # table (hostile sweep find); the oracle's len(w) predicate drops
    # the same rows via NULL comparison.
    d = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = F.split("text", " ")
    n = F.size(words)
    span_hashes = F.transform(
        F.sequence(F.lit(0), F.floor((n - 1) / _SPAN)),
        lambda k: F.md5(F.concat_ws(" ", F.slice(words, k * _SPAN + 1, _SPAN))),
    )
    # spans feeds both the frequency agg and the probe side; persist so the
    # scan+shingle work runs once (released by caching.release_session_caches).
    spans = track(d.select("doc_id", F.explode(span_hashes).alias("h")))
    freq = spans.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    dup = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (
        spans.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_spans"),
            dup.cast("int").alias("dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_spans",
            F.round(
                F.col("dup_spans").cast("double") / F.col("n_spans"), 4
            ).alias("dup_ratio"),
        )
    )


# RE2-and-Java-compatible patterns (no lookaround, no backrefs) so Spark
# (java.util.regex) and DuckDB (RE2) match byte-identically.
_EMAIL_RE = r"[a-z0-9]+@[a-z0-9.]+[a-z]"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@query(
    "q_pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(staged, '{_EMAIL_RE}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(staged, '{_PHONE_RE}')) AS INT)
             AS n_phones,
           substr(regexp_replace(regexp_replace(staged, '{_EMAIL_RE}',
                    '<EMAIL>', 'g'), '{_PHONE_RE}', '<PHONE>', 'g'),
                  1, 80) AS redacted_head,
           CAST(length(regexp_replace(regexp_replace(staged, '{_EMAIL_RE}',
                    '<EMAIL>', 'g'), '{_PHONE_RE}', '<PHONE>', 'g'))
             AS INT) AS redacted_len
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 3 <> 2
                  THEN 'contact user' || doc_id ||
                       '@mail.example.com or +1-555-' ||
                       lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                       ' ' || text
                  ELSE text END AS staged
      FROM documents
    )
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: mask email/phone patterns, count what was masked.

    The synthetic corpus contains no PII, so a deterministic contact
    block is STAGED into ~2/3 of the rows first (a fixture step, done
    identically in the oracle) — the redaction kernel then fires
    non-vacuously and per-row counts vary. The operator itself is two
    regexp_replace passes + regexp_extract_all accounting: pure
    codegen'd column expressions, map-only plan, no shuffle — at
    100 TB this runs at scan speed. Patterns are restricted to the
    RE2∩Java common subset so both engines match identically.
    """
    d = table(spark, sf_dir, "documents")
    staged = F.when(
        F.col("doc_id") % 3 != 2,
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" "),
            F.col("text"),
        ),
    ).otherwise(F.col("text"))
    base = d.select("doc_id", staged.alias("staged"))
    redacted = F.regexp_replace(
        F.regexp_replace("staged", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return base.select(
        "doc_id",
        nsize(F.regexp_extract_all("staged", F.lit(_EMAIL_RE), 0))
        .cast("int")
        .alias("n_emails"),
        nsize(F.regexp_extract_all("staged", F.lit(_PHONE_RE), 0))
        .cast("int")
        .alias("n_phones"),
        F.substring(redacted, 1, 80).alias("redacted_head"),
        F.length(redacted).cast("int").alias("redacted_len"),
    )


@query(
    "q_corpus_pipeline",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang, text, md5(text) AS h,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS ntok
      FROM documents
    ),
    keeper AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM q WHERE ntok >= 5
    ),
    base AS (
      SELECT doc_id, lang, text, ntok, h FROM keeper
      WHERE rn = 1 AND doc_id % 10 <> 0
    ),
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bench AS (
      SELECT DISTINCT md5(array_to_string(w[i:i+{_NGRAM - 1}], ' ')) AS sh
      FROM words, range(1, 1000) t(i)
      WHERE doc_id % 10 = 0 AND i <= len(w) - {_NGRAM - 1}
    ),
    bwords AS (SELECT doc_id, string_split(text, ' ') AS w FROM base),
    bsh AS (
      SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+{_NGRAM - 1}], ' ')) AS sh
      FROM bwords, range(1, 1000) t(i)
      WHERE i <= len(w) - {_NGRAM - 1}
    ),
    dirty AS (SELECT DISTINCT doc_id FROM bsh JOIN bench USING (sh)),
    survivors AS (
      SELECT base.*,
             CAST((instr('0123456789abcdef', substr(h,1,1))-1)*4096
                + (instr('0123456789abcdef', substr(h,2,1))-1)*256
                + (instr('0123456789abcdef', substr(h,3,1))-1)*16
                + (instr('0123456789abcdef', substr(h,4,1))-1) AS INT) % 100
               AS bucket
      FROM base ANTI JOIN dirty USING (doc_id)
    )
    SELECT CASE WHEN bucket < {_TRAIN_HI} THEN 'train'
                WHEN bucket < {_VAL_HI} THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens
    FROM survivors
    GROUP BY 1, 2
    """,
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composed corpus-prep pipeline — the end-to-end run a
    training-data user actually executes, as ONE declarative plan:

      quality filter → exact dedup (keep min doc_id) → drop held-out
      benchmark docs → n-gram decontamination → hash-bucket split →
      per-(split, lang) doc/token accounting.

    Each stage is the registered standalone operator's logic inlined, so
    Catalyst optimizes ACROSS stages: the quality filter pushes below
    the dedup window, the shingle explode happens only for surviving
    docs, and the decontamination probe stays a broadcast join. Total
    cost at 100 TB: one shuffle for the dedup window, one broadcast
    probe + distinct for contamination, one final (tiny) aggregate —
    the corpus never shuffles by anything wider than its 16-byte
    content hash.
    """
    d = table(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    q = d.select("doc_id", "lang", "text", F.md5("text").alias("h"), ntok.alias("ntok"))
    keeper_w = Window.partitionBy("h").orderBy("doc_id")
    # base (the quality-filtered, exact-deduped corpus) feeds BOTH the
    # shingle probe and the survivor accounting; unpersisted, the dedup
    # window pass over documents ran once per consumer (plan audit r11:
    # 3 documents scans). track() pins it — this is exactly the
    # materialization point a production pipeline persists between
    # dedup and decontamination.
    base = track(
        q.where(F.col("ntok") >= 5)
        .withColumn("rn", F.row_number().over(keeper_w))
        .where((F.col("rn") == 1) & (F.col("doc_id") % 10 != 0))
        .drop("rn")
    )
    bench = (
        d.where(F.col("doc_id") % 10 == 0)
        .select(F.explode(F.array_distinct(_shingle_hashes(_NGRAM))).alias("sh"))
        .distinct()
    )
    base_sh = base.select(
        "doc_id", F.explode(F.array_distinct(_shingle_hashes(_NGRAM))).alias("sh")
    )
    dirty = (
        base_sh.join(F.broadcast(bench), "sh", "left_semi").select("doc_id").distinct()
    )
    bucket = (
        F.conv(F.substring("h", 1, 4), 16, 10).cast("int") % 100
    )
    survivors = base.join(dirty, "doc_id", "left_anti").withColumn("bucket", bucket)
    return (
        survivors.select(
            F.when(F.col("bucket") < _TRAIN_HI, "train")
            .when(F.col("bucket") < _VAL_HI, "val")
            .otherwise("test")
            .alias("split"),
            "lang",
            "ntok",
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("total_tokens"),
        )
    )


def _split_by_cluster_oracle() -> str:
    # Shared staged-resolve table (VERDICT r4 item 3): the recursive-CTE
    # fixpoint runs once per parity pass (in q_dedup_resolve's oracle),
    # not once per downstream consumer — see dedup.staged_resolve_cte.
    from .dedup import staged_resolve_cte

    return (
        staged_resolve_cte()
        + f"""
    SELECT doc_id, keeper_doc_id, is_dup,
           CASE WHEN bucket < {_TRAIN_HI} THEN 'train'
                WHEN bucket < {_VAL_HI} THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, keeper_doc_id, is_dup,
             CAST((instr('0123456789abcdef', substr(h,1,1))-1)*4096
                + (instr('0123456789abcdef', substr(h,2,1))-1)*256
                + (instr('0123456789abcdef', substr(h,3,1))-1)*16
                + (instr('0123456789abcdef', substr(h,4,1))-1) AS INT) % 100
               AS bucket
      FROM (SELECT *, md5(CAST(keeper_doc_id AS VARCHAR)) AS h FROM resolved)
    )
    """
    )


@query("q_split_by_cluster", oracle=_split_by_cluster_oracle())
def q_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split bucket is computed
    from the near-dup CLUSTER KEEPER, not the document itself, so two
    near-duplicate documents can never land on opposite sides of the
    train/test boundary.

    This closes the known flaw of q_split_train_test's doc-keyed split:
    hashing doc_id sends ~20% of near-dup PAIRS across the boundary
    (each pair member buckets independently), which inflates eval —
    the test set "leaks" paraphrases of training docs. Keying the hash
    on keeper_doc_id from q_dedup_resolve makes split assignment
    constant within each connected component by construction.

    Scale shape: resolve's label propagation is the dominant cost
    (O(log n) bounded-size self-joins); the split itself adds one
    map-only hash per doc — no extra shuffle. Exact-oracled: the
    DuckDB twin reads the session-shared STAGED resolve table (the
    fixpoint itself is verified by q_dedup_resolve's independent
    recursive CTE) and derives the identical md5 bucket from
    keeper_doc_id, so every per-doc split assignment hash-matches
    (the no-straddle invariant holds by construction on both sides:
    split is a pure function of the keeper).
    """
    from .dedup import resolved_clusters

    resolved = resolved_clusters(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("keeper_doc_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % 100
    )
    return resolved.select(
        "doc_id",
        "keeper_doc_id",
        "is_dup",
        F.when(bucket < _TRAIN_HI, "train")
        .when(bucket < _VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "q_corpus_shuffle",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             md5('seed42:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    )
    SELECT doc_id,
           CAST(strpos('0123456789abcdef', substr(k, 1, 1)) - 1 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY substr(k, 1, 1) ORDER BY k, doc_id
           ) AS BIGINT) AS pos
    FROM keyed
    """,
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle + sharding: every document
    gets a pseudo-random shard and an exact position inside it, stable
    across runs, engines, and partition layouts.

    Training pipelines must shuffle the corpus WITHOUT a seeded RNG tied
    to partition order (Spark's rand() changes with the split layout).
    Keying by md5(seed || doc_id) gives a permutation that is a pure
    function of the data: re-runs, backfills, and other engines (the
    DuckDB oracle) produce byte-identical shard layouts. Shard = first
    hex nibble (16 shards here; production sizes shards to ~cluster
    parallelism × a small factor), position = row_number within the
    shard ordered by the full key — one hash shuffle on the nibble, and
    each shard's window sorts only its own slice. Changing the seed
    string reshuffles the entire corpus.
    """
    d = table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string"))).alias("k"),
    )
    nib = F.substring("k", 1, 1)
    pos = F.row_number().over(
        Window.partitionBy(nib).orderBy("k", "doc_id")
    )
    return keyed.select(
        "doc_id",
        (F.instr(F.lit("0123456789abcdef"), nib) - 1).cast("int").alias("shard"),
        pos.cast("bigint").alias("pos"),
    )


@query(
    "q_lm_score",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), tok AS (
      SELECT doc_id, w FROM words WHERE w <> ''
    ), vocab AS (
      SELECT w, COUNT(*) AS c FROM tok GROUP BY w
    ), total AS (
      SELECT COUNT(*) AS n FROM tok
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(LN(v.c) - LN(tt.n)) / COUNT(*), 4) AS avg_logprob
    FROM tok t JOIN vocab v ON t.w = v.w CROSS JOIN total tt
    GROUP BY t.doc_id
    """,
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: each document's mean token
    log-probability under the corpus's own unigram distribution — the
    classic cheap perplexity filter (low scorers are gibberish or
    boilerplate; the KenLM-style heavy version swaps in n-gram counts).

    Two passes, both corpus-bounded: (1) the unigram table — one word
    shuffle with map-side combine, vocabulary-sized output; (2) score —
    tokens equi-join the vocabulary on the word hash (vocabulary may
    exceed broadcast size at 100 TB, so this is a plain shuffle join,
    never a collected dict), then one doc_id shuffle averages the
    log-probs. The corpus token total is a 1-row broadcast. ln() is
    IEEE-correctly-rounded on both engines for these integer inputs;
    the mean is rounded to 4 decimals before hashing (q_tfidf's
    discipline for transcendental outputs).
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).alias("n"))
    return (
        tok.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.log("c") - F.log("n")) / F.count(F.lit(1)), 4
            ).alias("avg_logprob"),
        )
    )


@query(
    "q_chunk_documents",
    oracle="""
    WITH words AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), starts AS (
      SELECT doc_id, ws, len(ws) AS n,
             unnest(range(0, greatest(len(ws), 1), 40)) AS start
      FROM words
    )
    SELECT doc_id, CAST(start / 40 AS INT) AS chunk_idx,
           CAST(least(50, n - start) AS INT) AS chunk_tokens,
           array_to_string(list_slice(ws, start + 1, start + 50), ' ') AS chunk_text
    FROM starts
    WHERE start < n
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (50-token chunks, stride 40 →
    10-token overlap): the retrieval/embedding prep step that turns
    variable-length docs into bounded passages without losing
    cross-boundary context.

    Pure column expressions: tokenize once, generate chunk starts with
    sequence(), slice per start — rows fan out ~n_tokens/40× with ZERO
    shuffle (map-only), so at 100 TB this runs at scan speed and the
    chunk table can be written partition-aligned with its source. The
    overlap means downstream dedup must key on (doc_id, chunk_idx),
    never chunk text — adjacent chunks share 10 tokens by design.
    """
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.filter(F.split("text", " "), lambda w: w != "").alias("ws")
    )
    n = F.size("ws")
    starts = words.select(
        "doc_id",
        "ws",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(40))).alias(
            "start"
        ),
    ).where(F.col("start") < F.col("n"))
    return starts.select(
        "doc_id",
        (F.col("start") / 40).cast("int").alias("chunk_idx"),
        F.least(F.lit(50), F.col("n") - F.col("start")).cast("int").alias("chunk_tokens"),
        F.array_join(F.slice("ws", F.col("start") + 1, 50), " ").alias("chunk_text"),
    )


@query(
    "q_sample_temperature",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), weights AS (
      SELECT source, n_docs, SQRT(CAST(n_docs AS DOUBLE)) AS w,
             SUM(SQRT(CAST(n_docs AS DOUBLE))) OVER () AS w_total,
             SUM(n_docs) OVER () AS n_total
      FROM counts
    ), rates AS (
      SELECT source, n_docs,
             CAST(LEAST(FLOOR((0.3 * n_total * w / w_total) / n_docs * 10000),
                        10000) AS BIGINT) AS threshold
      FROM weights
    )
    SELECT d.source, MAX(r.threshold) AS threshold,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE
             CAST((instr('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)),1,1))-1)*4096
                + (instr('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)),2,1))-1)*256
                + (instr('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)),3,1))-1)*16
                + (instr('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)),4,1))-1) AS BIGINT)
               % 10000 < r.threshold) AS n_kept
    FROM documents d JOIN rates r USING (source)
    GROUP BY d.source
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing (α = 0.5): per-source sample
    rates ∝ count^α — upweight small domains, damp the head — targeting
    30% of the corpus overall; then the deterministic md5-bucket sampler
    applies each rate. This is the mixture-rebalancing step training
    runs apply between dedup and sharding (cf. multilingual sampling in
    public LM pipelines).

    Two-pass shape that scales: pass 1 collapses to one row per source
    (broadcastable); pass 2 is the map-only hash sampler joined against
    that tiny rate table. Thresholds are integer basis points computed
    with exact-rounded IEEE ops (sqrt/div/floor), so both engines pick
    identical cutoffs; selection is a pure row function, reproducible
    at any layout or cluster size (q_sample_stratified's rationale).
    """
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.sqrt(F.col("n_docs").cast("double"))
    weights = counts.select(
        "source",
        "n_docs",
        w.alias("w"),
        F.sum(w).over(Window.partitionBy()).alias("w_total"),
        F.sum("n_docs").over(Window.partitionBy()).alias("n_total"),
    )
    rates = weights.select(
        "source",
        F.least(
            F.floor((0.3 * F.col("n_total") * F.col("w") / F.col("w_total"))
                    / F.col("n_docs") * 10000),
            F.lit(10000).cast("bigint"),
        ).alias("threshold"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % 10000
    )
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.max("threshold").alias("threshold"),
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(bucket < F.col("threshold")).alias("n_kept"),
        )
    )


def bpe_train(docs: DataFrame, n_merges: int = 10, text_col: str = "text",
              max_vocab: int = 1 << 16) -> DataFrame:
    """Distributed-count, local-merge BPE learning (Sennrich et al.
    2016): returns the learned merge table (rank, left, right, merged,
    pair_count) — the model artifact a tokenizer ships.

    Architecture (the one production tokenizer trainers use): the
    corpus-sized work is ONE distributed aggregation (word → freq);
    merge learning then runs as a pure-driver loop over that
    word-frequency dict, which is bounded by VOCABULARY size, not
    corpus size — and further capped at ``max_vocab`` entries by
    (freq desc, word) so the collected artifact has a hard ceiling
    even on open-vocabulary text (the standard min-frequency cut;
    rare tail words contribute no top pair at these merge counts).
    An earlier formulation ran each round as a Spark job over the
    vocab table — correct, but 10 rounds × (explode + shuffle + action)
    of pure job latency for dict-sized data (measured 4-6 s at sf0.1 vs
    ~1 s for the count + collect); iterating next to the data it
    already holds is what a driver is FOR once the data is provably
    bounded.

    Merging replaces non-overlapping pairs left-to-right per round
    ("a a a a" → "aa aa" — sequential greedy), ties break on
    (count desc, left, right): fully deterministic, semantics asserted
    on the classic example in tests/test_llm_pipeline.py.
    """
    words = docs.select(
        F.explode(F.filter(F.split(text_col, " "), lambda w: w != "")).alias("w")
    )
    vocab_rows = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "w")
        .limit(max_vocab)
        .collect()
    )
    vocab: list[tuple[list[str], int]] = [
        (list(r.w) + ["</w>"], int(r.freq)) for r in vocab_rows
    ]
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in vocab:
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        (left, right), count = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, left + right, count))
        for j, (syms, freq) in enumerate(vocab):
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[j] = (out, freq)
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count bigint"
    )


@query(
    "q_bpe_train",
    # Staged-expectation oracle: exact pair counts + lexicographic
    # tie-break make the learned merge list a pure function of the
    # corpus (staging.py documents what the hash match certifies).
    oracle=staged_oracle("q_bpe_train", "*"),
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the corpus's first 10 BPE merges (see :func:`bpe_train`).
    Deterministic (count-then-lexicographic tie-break); classic-example
    semantics unit-tested in tests/test_llm_pipeline.py.
    """
    return run_staged(spark, sf_dir, "q_bpe_train")


@staged_builder("q_bpe_train")
def bpe_train_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-staging frame for :func:`q_bpe_train` (construction runs the
    distributed word-count + driver merge-learning; the returned frame
    is the 10-row merge table)."""
    return bpe_train(table(spark, sf_dir, "documents"), n_merges=10)


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text") -> DataFrame:
    """Apply learned BPE merges to every document — the map-only encode
    half of the tokenizer (train: :func:`bpe_train`). Returns per-doc
    whitespace vs BPE token counts.

    The whole document is encoded once as a ``\\x1f``-separated symbol
    stream (each word char-split and terminated with ``</w>``); each
    merge is one regexp_replace with the same zero-width boundary
    guards as training, chained into a single projection — scan-speed,
    zero shuffles, whole plan codegen'd. Merges can never cross word
    boundaries: the inter-word filler is a space symbol and no merge
    contains a space.
    """
    sep = "\x1f"
    words = F.filter(F.split(text_col, " "), lambda w: w != "")
    enc_word = lambda w: F.concat(
        F.concat_ws(sep, F.filter(F.split(w, ""), lambda c: c != "")),
        F.lit(sep + "</w>"),
    )
    enc = F.concat(
        F.lit(sep),
        F.array_join(F.transform(words, enc_word), sep + " " + sep),
        F.lit(sep),
    )
    for left, right in merges:
        pattern = f"(?<={sep})\\Q{left}\\E{sep}\\Q{right}\\E(?={sep})"
        enc = F.regexp_replace(enc, pattern, left + right)
    n_bpe = F.size(
        F.filter(F.split(enc, sep), lambda t: (t != "") & (t != " "))
    )
    return docs.select(
        "doc_id",
        F.size(words).cast("int").alias("n_ws_tokens"),
        n_bpe.cast("int").alias("n_bpe_tokens"),
    ).withColumn(
        "tokens_per_word",
        F.round(F.col("n_bpe_tokens") / F.greatest(F.col("n_ws_tokens"), F.lit(1)), 4),
    )


@query(
    "q_bpe_apply",
    # Staged-expectation oracle: deterministic merges → deterministic
    # token counts per document.
    oracle=staged_oracle("q_bpe_apply", "*"),
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 10 BPE merges on the corpus, then encode every document with
    them (train→apply round trip). The merge list is a 10-row model
    artifact collected to the driver and inlined into the encode
    expression — at 100 TB the train side aggregates the word-freq dict
    once and the apply side stays a map-only scan; the artifact, not
    data, crosses the driver. Deterministic end to end.
    """
    return run_staged(spark, sf_dir, "q_bpe_apply")


@staged_builder("q_bpe_apply")
def bpe_apply_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-staging frame for :func:`q_bpe_apply` — the map-only encode
    plan over the collected 10-merge artifact."""
    d = table(spark, sf_dir, "documents")
    merges = [(r["left"], r["right"]) for r in bpe_train(d, n_merges=10).collect()]
    return bpe_apply(d, merges)


@query(
    "q_gdpr_erase",
    oracle="""
    WITH requests AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(COUNT(*) FILTER (r.user_id IS NOT NULL) AS BIGINT) AS n_erased,
           CAST(COUNT(*) FILTER (r.user_id IS NULL) AS BIGINT) AS n_after
    FROM events e LEFT JOIN requests r ON e.user_id = r.user_id
    GROUP BY e.event_type
    """,
)
def q_gdpr_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten audit: apply a deletion-request table to the
    event stream and account for every row — per event type, rows before,
    rows erased, rows surviving. The erase itself is a broadcast ANTI
    join (requests are always tiny relative to the lake); the audit runs
    the same join as a LEFT join so erased and kept rows are counted in
    ONE pass — n_before = n_erased + n_after by construction, and the
    oracle's hash match certifies no row was double-counted or silently
    dropped.

    At 100 TB this is the compliance sweep run per deletion batch: scan
    the fact partitions, broadcast the request keys, rewrite surviving
    rows (the rewrite mechanics are q_merge_upsert / q_compact_files
    territory); the audit trail emitted here is what the DPO files.
    Deterministic request set (user_id mod 97) stands in for the real
    request table.
    """
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    requests = (
        ev.where(F.col("user_id") % 97 == 0).select("user_id").distinct()
    )
    r = F.broadcast(requests).withColumnRenamed("user_id", "r_user")
    return (
        ev.join(r, ev.user_id == F.col("r_user"), "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.count("r_user").alias("n_erased"),
            F.count_if(F.col("r_user").isNull()).alias("n_after"),
        )
    )


@query(
    "q_cap_per_source",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':capseed'), doc_id
             ) AS rk
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk <= 100 THEN n_chars END) AS BIGINT) AS kept_chars,
           md5(string_agg(CASE WHEN rk <= 100 THEN CAST(doc_id AS VARCHAR) END,
                          ',' ORDER BY doc_id)) AS kept_ids_md5
    FROM ranked
    GROUP BY lang
    """,
)
def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the "at most N documents per domain"
    step every web-scale corpus applies so one giant source can't
    dominate the mixture (the hard-cap sibling of q_sample_temperature's
    soft reweighting). Within each source (lang stands in for domain),
    documents rank by a deterministic md5 permutation — an unbiased
    draw that is layout- and engine-independent, the same discipline as
    q_corpus_shuffle — and only the first 100 survive.

    One window per source partition (bucket size = source size; a
    pathologically hot source at 100 TB first goes through a count
    pre-pass and hash-bucket pre-filter so the window never sees more
    than ~cap × fanout rows). The kept-set md5 pins the EXACT surviving
    ids, not just their count.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":capseed"))), "doc_id"
    )
    ranked = d.select("doc_id", "lang", "n_chars").withColumn(
        "rk", F.row_number().over(w)
    )
    kept_ids = F.sort_array(
        F.collect_list(F.when(F.col("rk") <= 100, F.struct("doc_id")))
    )
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rk") <= 100, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("rk") <= 100, F.col("n_chars"))).cast("bigint").alias("kept_chars"),
        F.md5(
            F.array_join(
                F.transform(kept_ids, lambda s: s.getField("doc_id").cast("string")),
                ",",
            )
        ).alias("kept_ids_md5"),
    )


@query(
    "q_vocab_coverage",
    oracle="""
    WITH words AS (
      SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
      FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
    vocab AS (
      SELECT w FROM wc ORDER BY c DESC, w LIMIT 1000
    )
    SELECT CAST((SELECT COUNT(*) FROM wc) AS BIGINT) AS n_types,
           CAST((SELECT SUM(c) FROM wc) AS BIGINT) AS n_tokens,
           CAST((SELECT SUM(c) FROM wc JOIN vocab USING (w)) AS BIGINT)
             AS covered_tokens,
           round(CAST((SELECT SUM(c) FROM wc JOIN vocab USING (w)) AS DOUBLE)
                 / (SELECT SUM(c) FROM wc), 4) AS coverage
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage report: what fraction of corpus TOKENS the
    top-1000 word types cover — the first number a tokenizer design
    consults (coverage vs vocab-size curve decides how much BPE has to
    do; q_bpe_train learns the merges, this prices the need). Type/token
    distinction matters: coverage is token-weighted, so a few thousand
    frequent types usually cover >90% of running text (Zipf) — or
    don't, on synthetic/noisy corpora, which is exactly worth knowing.

    One corpus pass to word counts (map-side combine); the vocabulary
    is a TakeOrdered top-K of the TYPE table (bounded by vocabulary,
    not corpus); coverage is a broadcast semi-join of the type table
    against the 1000-row vocab. Deterministic tie-break on (count desc,
    word).
    """
    d = table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w")
    )
    wc = track(words.groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    vocab = wc.orderBy(F.col("c").desc(), "w").limit(1000).select("w")
    totals = wc.agg(
        F.count(F.lit(1)).alias("n_types"), F.sum("c").alias("n_tokens")
    )
    covered = (
        wc.join(F.broadcast(vocab), "w")
        .agg(F.sum("c").alias("covered_tokens"))
    )
    return (
        totals.crossJoin(F.broadcast(covered))
        .select(
            "n_types",
            "n_tokens",
            "covered_tokens",
            F.round(
                F.col("covered_tokens").cast("double") / F.col("n_tokens"), 4
            ).alias("coverage"),
        )
    )


# Content-filter term lists (C4/RefinedWeb-style). HARD terms drop a doc
# on any occurrence; SOFT terms drop only when their token share exceeds
# _SOFT_MAX_RATIO — the two-tier policy real corpus filters ship
# (C4's badwords list is hard; boilerplate markers are ratio-gated).
_HARD_BLOCK = ("dup",)
_SOFT_BLOCK = ("slow", "big")
_SOFT_MAX_RATIO = 0.15


@query(
    "q_content_filter",
    oracle=f"""
    WITH scored AS (
      SELECT source, lang,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({list(_HARD_BLOCK)!r}, w))) AS n_hard,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({list(_SOFT_BLOCK)!r}, w))) AS n_soft,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS ntok
      FROM documents
    ),
    verdict AS (
      SELECT source, lang, n_hard, n_soft,
             CASE WHEN n_hard > 0 THEN 1
                  WHEN ntok > 0
                   AND CAST(n_soft AS DOUBLE) / ntok > {_SOFT_MAX_RATIO}
                  THEN 1 ELSE 0 END AS dropped
      FROM scored
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dropped) AS BIGINT) AS n_dropped,
           round(CAST(SUM(dropped) AS DOUBLE) / COUNT(*), 4) AS drop_rate,
           CAST(SUM(n_hard) AS BIGINT) AS hard_hits,
           CAST(SUM(n_soft) AS BIGINT) AS soft_hits
    FROM verdict
    GROUP BY source, lang
    """,
)
def q_content_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist content filter, the corpus-prep gate q_quality_gate
    does NOT cover: term-based exclusion with the two-tier policy
    production filters use — HARD terms (any occurrence drops the doc,
    C4's badword rule) and SOFT terms (dropped only above a token-share
    ratio, the boilerplate-marker rule), reported per (source, lang) so
    list tuning is auditable by provenance slice.

    Map-only scan: both term counts come from JVM higher-order
    ``filter``/``size`` over the split array (no explode, no shuffle
    until the tiny provenance rollup) — at 100 TB this is a free column
    alongside the read, and the per-slice report is a ~|sources×langs|
    aggregate. The ratio gate compares the same IEEE division of the
    same two ints on both engines, so the verdict can never flip
    cross-engine.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    n_hard = nsize(F.filter(toks, lambda w: w.isin(*_HARD_BLOCK)))
    n_soft = nsize(F.filter(toks, lambda w: w.isin(*_SOFT_BLOCK)))
    scored = d.select(
        "source",
        "lang",
        n_hard.alias("n_hard"),
        n_soft.alias("n_soft"),
        nsize(toks).alias("ntok"),
    )
    dropped = F.when(F.col("n_hard") > 0, 1).when(
        (F.col("ntok") > 0)
        & (F.col("n_soft").cast("double") / F.col("ntok") > _SOFT_MAX_RATIO),
        1,
    ).otherwise(0)
    return (
        scored.withColumn("dropped", dropped)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dropped").cast("bigint").alias("n_dropped"),
            F.round(
                F.sum("dropped").cast("double") / F.count(F.lit(1)), 4
            ).alias("drop_rate"),
            F.sum("n_hard").cast("bigint").alias("hard_hits"),
            F.sum("n_soft").cast("bigint").alias("soft_hits"),
        )
    )


_SRP_K = 8  # rolling shingle width (words) for the removal plan


@query(
    "q_substring_removal_plan",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    sh AS (
      SELECT d.doc_id, t.i AS pos,
             md5(array_to_string(list_slice(d.w, t.i, t.i + {_SRP_K - 1}), ' '))
               AS h
      FROM docs d,
           UNNEST(range(1, greatest(len(d.w) - {_SRP_K - 2}, 1))) AS t(i)
    ),
    freq AS (
      SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
    ),
    hits AS (
      SELECT s.doc_id, s.pos FROM sh s JOIN freq f ON s.h = f.h
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos > MAX(pos + {_SRP_K - 1}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_span
      FROM hits
    ),
    spans AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS span_id
      FROM flagged
    )
    SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
           CAST(MIN(pos) AS BIGINT) AS start_word,
           CAST(MAX(pos) + {_SRP_K - 1} AS BIGINT) AS end_word,
           CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM spans GROUP BY doc_id, span_id
    """,
)
def q_substring_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-SUBSTRING removal plan (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    rolling 8-word shingle occurring in more than one document marks a
    position; per document, overlapping marked positions merge into
    maximal [start_word, end_word] CUT RANGES — the actionable artifact
    a corpus rewriter consumes, vs q_span_dedup's per-doc duplication
    COUNT over non-overlapping spans. (Lee et al. build a suffix array;
    the rolling-shingle + interval-merge formulation reproduces its
    ≥k-token repeated ranges with lake-native operators.)

    Scale shape: shingle hashes shuffle as 16-byte md5s (never text);
    the multi-doc filter is one groupBy(h); positions of surviving
    shingles merge with the q_interval_coalesce running-max window —
    per-doc partitions, word-position integers. Output is bounded by
    |docs with cross-doc repeats|, which is exactly the near-dup
    population, so the plan table stays small even on clean corpora.
    """
    # The ~145x shingle explode amplifies each input partition; spread()
    # fixes the single-row-group scan's one-task plan (conditional — a
    # well-partitioned lake scan keeps its partitioning).
    d = spread(table(spark, sf_dir, "documents"), spark)
    words = F.filter(F.split("text", " "), lambda x: x != "")
    n = F.size(words)
    # Guard: Spark's sequence(1, 0) steps BACKWARD ([1, 0]) instead of
    # returning empty — docs shorter than the shingle width must yield
    # an empty array explicitly (DuckDB's range(1, 0) is empty).
    shingles = F.when(
        n >= _SRP_K,
        F.transform(
            F.sequence(F.lit(1), n - (_SRP_K - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, _SRP_K))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = track(
        d.select("doc_id", F.posexplode(shingles).alias("p0", "h")).select(
            "doc_id", (F.col("p0") + 1).alias("pos"), "h"
        )
    )
    freq = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("h")
    )
    hits = sh.join(freq, "h").select("doc_id", "pos")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos") > F.max(F.col("pos") + (_SRP_K - 1)).over(w_prev), 1
        ).otherwise(0).alias("new_span"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = flagged.select(
        "doc_id", "pos", F.sum("new_span").over(w_run).alias("span_id")
    )
    return spans.groupBy(
        "doc_id", F.col("span_id").cast("bigint").alias("span_id")
    ).agg(
        F.min("pos").cast("bigint").alias("start_word"),
        (F.max("pos") + (_SRP_K - 1)).cast("bigint").alias("end_word"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


def _es_key_sqls() -> tuple[str, str]:
    """Spark/DuckDB texts for the Efraimidis-Spirakis sampling key.

    v = 48 bits of md5(doc_id) (exact integer, both engines), u =
    (v+1)/(2^48+1) ∈ (0,1], weight w = least(n_chars, 3000), key =
    round(ln(u)/w, 9). Top-k by key DESC is a weighted sample WITHOUT
    replacement with inclusion probability ∝ w (Efraimidis & Spirakis
    2006: key u^(1/w) order ≡ ln(u)/w order). The 9-dp rounding + doc_id
    tiebreak absorbs the ≤1-ulp libm-vs-JVM ln() drift so the selected
    SET is engine-identical.
    """
    from ..common import md5_hex4_duck, md5_hex4_spark

    def key(h4) -> str:
        v = (
            f"({h4('doc_id', 1)} * 4294967296 + {h4('doc_id', 5)} * 65536"
            f" + {h4('doc_id', 9)})"
        )
        u = f"(({v} + 1) / 281474976710657.0)"
        return f"round(ln({u}) / least(n_chars, 3000), 9)"

    return key(md5_hex4_spark), key(md5_hex4_duck)


_ES_SPARK, _ES_DUCK = _es_key_sqls()


@query(
    "q_sample_es_weighted",
    oracle=f"""
    SELECT doc_id, lang, n_chars, {_ES_DUCK} AS es_key
    FROM documents
    ORDER BY es_key DESC, doc_id
    LIMIT 100
    """,
)
def q_sample_es_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis):
    exactly 100 documents, longer documents proportionally likelier,
    no document twice — the fixed-budget counterpart of
    q_sample_weighted's Bernoulli thinning (which only controls the
    EXPECTED count). The per-row key is a pure md5 function of doc_id
    (see :func:`_es_key_sqls`), so the draw is reproducible across
    engines, runs, and layout, and the top-k plans as
    TakeOrderedAndProject — per-partition heaps of 100, no global sort.
    At 100 TB this is THE way to draw a fixed-size weighted corpus
    sample: one scan, k·partitions heap memory, zero shuffle of data
    rows.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "lang", "n_chars", F.expr(_ES_SPARK).alias("es_key"))
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(100)
    )


@query(
    "q_kfold_assign",
    oracle=f"""
    SELECT lang,
           CAST(((instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 2, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 3, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 4, 1)) - 1) * 1) % 5 AS INT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))
                AS BIGINT) AS fold_tokens
    FROM documents
    GROUP BY 1, 2
    ORDER BY lang, fold
    """,
)
def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment, stratified by
    language: fold = md5(doc_id) mod 5, so folds are reproducible,
    layout-independent, and near-balanced within every stratum (the
    accounting this query emits is the balance check). Map-only
    assignment + one small aggregate — at 100 TB the fold column is
    free alongside the scan, same discipline as q_split_train_test.
    """
    d = table(spark, sf_dir, "documents")
    fold = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("int") % 5)
    # nsize: a NULL text must not leak legacy -1 into the token budget
    ntok = nsize(F.filter(F.split("text", " "), lambda w: w != ""))
    return (
        d.select("lang", fold.alias("fold"), ntok.alias("ntok"))
        .groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("fold_tokens"),
        )
        .orderBy("lang", "fold")
    )


@query(
    "q_ngram_novelty",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws,
             CAST((instr('0123456789abcdef', substr(md5(text),1,1))-1)*4096
                + (instr('0123456789abcdef', substr(md5(text),2,1))-1)*256
                + (instr('0123456789abcdef', substr(md5(text),3,1))-1)*16
                + (instr('0123456789abcdef', substr(md5(text),4,1))-1) AS INT) % 100
               AS bucket
      FROM documents
    ),
    train_set AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))
               AS g
      FROM split WHERE bucket < {_TRAIN_HI} AND len(ws) >= 2
    ),
    test_grams AS (
      SELECT lang,
             unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))
               AS g
      FROM split WHERE bucket >= {_VAL_HI} AND len(ws) >= 2
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_test_bigrams,
           CAST(SUM(CASE WHEN t.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(SUM(CASE WHEN t.g IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS novelty_ratio
    FROM test_grams tg LEFT JOIN train_set t ON tg.g = t.g
    GROUP BY lang
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-split n-gram novelty vs the train split: what fraction of
    the held-out corpus's bigram OCCURRENCES never appear in training
    data — the memorization/novelty audit that complements
    q_decontaminate (that one removes overlap; this one MEASURES how
    much eval signal is left).

    Splits reuse q_split_train_test's md5(text) buckets, so the three
    split queries agree on membership by construction. Scale shape:
    both gram streams collapse map-side (train to its DISTINCT set,
    test to occurrences), the one shuffle joins on the gram hash —
    carrier is the distinct-bigram vocabulary, never the corpus. The
    ratio is one bigint/bigint division, exact on both engines.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.filter(F.split("text", " "), lambda w: w != "").alias("ws"),
        # q_split_train_test's exact bucket derivation — the split
        # queries must agree on membership.
        (F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("int") % 100).alias(
            "bucket"
        ),
    )
    grams = lambda df: df.where(F.size("ws") >= 2).select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("ws", i + 1), F.element_at("ws", i + 2)
                ),
            )
        ).alias("g"),
    )
    train_set = grams(d.where(F.col("bucket") < _TRAIN_HI)).select("g").distinct()
    test_grams = grams(d.where(F.col("bucket") >= _VAL_HI))
    joined = test_grams.join(
        train_set.withColumn("seen", F.lit(1)), "g", "left"
    )
    novel = F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_bigrams"),
        novel.cast("bigint").alias("n_novel"),
        (novel.cast("double") / F.count(F.lit(1))).alias("novelty_ratio"),
    )


@query(
    "q_lm_bigram",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
      WHERE text IS NOT NULL
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
             unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
      FROM tok WHERE len(ws) >= 2
    ),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY w1, w2),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM grams GROUP BY w1),
    voc AS (
      SELECT COUNT(DISTINCT w) AS v FROM (
        SELECT unnest(ws) AS w FROM tok
      )
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(SUM(LN(b.c12 + 1) - LN(u.c1 + vv.v)) / COUNT(*), 4)
             AS avg_logprob
    FROM grams g
    JOIN big b ON b.w1 = g.w1 AND b.w2 = g.w2
    JOIN uni u ON u.w1 = g.w1
    CROSS JOIN voc vv
    GROUP BY g.doc_id
    """,
)
def q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score with add-one smoothing:
    each document's mean ln P(w₂|w₁) where P = (c(w₁w₂)+1)/(c(w₁·)+V)
    — q_lm_score's context-aware upgrade (the unigram filter cannot
    tell shuffled gibberish from fluent text; the bigram one can),
    the CCNet-style perplexity gate one rung up the ladder.

    Three corpus-bounded passes: the bigram and unigram-context count
    tables (map-side combined, vocabulary-sized), and the score join —
    plain shuffle joins on the gram hash (counts may exceed broadcast
    at 100 TB), then one doc_id shuffle for the mean. Laplace
    smoothing makes every probability well-defined with no OOV branch.
    ln() on integer inputs is identical across engines (q_lm_score's
    verified discipline); the mean rounds to 4 dp before hashing.
    NULL texts are dropped; docs with <2 tokens have no bigrams and
    are absent on both sides.
    """
    d = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    tok = d.select("doc_id", ws.alias("ws"))
    grams = tok.where(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 2),
                lambda i: F.struct(
                    F.element_at("ws", i + 1).alias("w1"),
                    F.element_at("ws", i + 2).alias("w2"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    # grams is NOT persisted (r11 interleaved A/B): its three consumers
    # do re-run the tokenize + bigram explode, but track() measured
    # 1.47 → 1.63 s at sf0.1/32 cores (and spread() 1.5 → 2.0) — the
    # duplicated explodes overlap on idle cores while a cache adds a
    # serial materialization job plus 300k-row serialization.
    big = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = grams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    voc = (
        tok.select(F.explode("ws").alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    scored = (
        grams.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(voc))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum(F.log(F.col("c12") + 1) - F.log(F.col("c1") + F.col("v")))
            / F.count(F.lit(1)),
            4,
        ).alias("avg_logprob"),
    )
