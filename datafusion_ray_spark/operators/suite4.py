"""Round-3 continuation batch 4: leakage-safe group-holdout split,
LSH-vs-exact dedup evaluation, and set-containment (asymmetric Jaccard)
duplicate detection.

Same contract as ``suite.py``..``suite3.py``: every entry pairs a Spark
callable with an independently-written DuckDB oracle recomputing identical
semantics; values are integers (counts, floor-division ppm) or md5-derived
strings so the driver's value-hash comparison certifies them exactly.

All three operators ride the dedup machinery in ``operators/dedup.py``
(banded MinHash LSH, AllPairs prefix filter), so their scale shape is the
one already audited there: candidate generation is bucketed/inverted-index,
verification touches candidates only, nothing collects rows to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, spread
from . import dedup
from .oracles import minhash_pairs_oracle
from .shared import _SHINGLES, _WORDS


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the SHINGLE consumers here (group_holdout, lsh_eval,
    # containment, ngram_novelty) are per-row compute-bound; the testdata
    # is one unsplittable row group so without it the whole kernel runs on
    # ONE core (r7 per-job profile: a 2.2 s single-task stage inside
    # dedup_lsh_eval). No-op on real multi-split inputs.
    return spread(load_table(spark, sf_dir, "documents"))


def _docs_unspread(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The MULTIMODAL consumers (scene_cuts, silence_trim) must NOT share
    # the spread loader: their Arrow prefix-sum kernel is cheap relative
    # to a full-table round-robin exchange of the binary payloads, so the
    # r7 spread() cost them +76% (mm_silence_trim 0.63 -> 1.11 s committed;
    # r7 verdict What's-wrong #2). At 100 TB real framed payloads arrive
    # multi-split and the exchange buys nothing there either.
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Leakage-safe train/eval split (group holdout) — the split a training-data
# pipeline actually needs: `split_train_test` hashes each doc independently,
# so two near-duplicate documents can land on opposite sides and leak eval
# content into training. Here the unit of assignment is the TRANSITIVE
# near-dup group (connected component over verified MinHash pairs, the same
# components `dedup_groups` certifies); singleton docs form their own group.
# Every member of a group hashes identically (md5 of the group id), so no
# near-duplicate pair ever straddles the split — by construction, not by
# luck.
#
# Scale: the expensive part is the LSH pipeline, already linear/bucketed;
# the split itself adds one equi-join on doc_id plus a hash projection.
# The dup-group label table is deliberately NOT hint-broadcast: on real web
# corpora near-dup members are routinely 30–80% of documents (corpus-scale),
# so a forced broadcast would OOM executors at 100 TB. AQE still broadcasts
# it when it genuinely fits. Deterministic under re-runs and reshards.


def run_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(docs).where("is_near_dup")
    groups = dedup.duplicate_groups(pairs)  # (doc_id, group_id) — members only
    gid = F.coalesce(F.col("group_id"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(groups, "doc_id", "left")
        .select(
            "doc_id",
            gid.cast("long").alias("group_id"),
            F.when(
                F.substring(F.md5(gid.cast("string")), 1, 1) < "d", "train"
            )
            .otherwise("eval")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


def group_holdout_oracle() -> str:
    return f"""
WITH RECURSIVE mp AS (
{minhash_pairs_oracle()}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM mp WHERE is_near_dup
    UNION ALL
    SELECT doc_b, doc_a FROM mp WHERE is_near_dup
),
gnodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
    SELECT id, id FROM gnodes
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
),
g AS (SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS group_id
      FROM reach GROUP BY id)
SELECT d.doc_id,
       CAST(COALESCE(g.group_id, d.doc_id) AS BIGINT) AS group_id,
       CASE WHEN SUBSTRING(MD5(CAST(COALESCE(g.group_id, d.doc_id) AS VARCHAR)), 1, 1) < 'd'
            THEN 'train' ELSE 'eval' END AS split
FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# LSH quality evaluation — recall/precision of the approximate dedup against
# the exact one, measured in-engine. Production pipelines tune (bands, rows)
# against exactly this readout; here it is a first-class certified query:
#   - ground truth = exact AllPairs n-gram Jaccard pairs (same-source
#     blocking, the `dedup_ngram_jaccard` result set),
#   - LSH true pairs = MinHash candidates that verify >= threshold,
#   - recall  = |LSH true ∩ truth| / |truth|   (candidate misses lose pairs),
#   - precision = |candidates that verify| / |candidates| (wasted verify work).
# Both ratios are emitted as floor-division ppm integers so the row is
# hash-certifiable. Scale: two already-linear dedup pipelines plus
# count-only aggregates; the metric row is one broadcast-joined record.


def run_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    exact = dedup.ngram_jaccard_pairs(docs).select("doc_a", "doc_b")
    # localCheckpoint (not persist): reused by three aggregates below;
    # blocks are released by the ContextCleaner once unreachable instead of
    # pinning executor memory across the suite (see containment_pairs).
    # eager=True is LOAD-BEARING here (r11 A/B): with a lazy checkpoint
    # the semi-join below plans against unknown sizes and regressed 2x
    # (6 -> 11 s isolated); the eager job gives the planner the
    # materialized size, so the matched-pairs join broadcasts.
    lsh = dedup.minhash_dedup_pairs(docs).localCheckpoint(eager=True)
    lsh_true = lsh.where("is_near_dup").select("doc_a", "doc_b")

    # ONE pass over the exact pipeline (r12, VERDICT r11 #5; guide §1.2):
    # n_exact and n_matched used to be two separate aggregate legs — a
    # bare count plus a LeftSemi count — and the AllPairs subtree (pair
    # expansion + inline Jaccard verify, the query's dominant kernel)
    # canonicalized differently under them, so it PLANNED AND RAN TWICE
    # (plans/r12/dedup_lsh_eval_before.txt nodes 12-17 vs 18-32). A
    # marker left join against the checkpointed LSH-true set computes
    # both counts in one pass: count(*) is n_exact, count(_m) is the
    # semi-join count — exact because minhash pairs are unique per
    # (doc_a, doc_b) (candidates are .distinct(), verify joins 1:1).
    ex_counts = (
        exact.join(
            lsh_true.withColumn("_m", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("_m").cast("long").alias("n_matched"),
        )
    )
    cand_counts = lsh.agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("is_near_dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_lsh_true"),
    )
    return (
        ex_counts
        .crossJoin(cand_counts)
        .select(
            "n_exact",
            "n_matched",
            "n_candidates",
            "n_lsh_true",
            F.expr("n_matched * 1000000 DIV n_exact").alias("recall_ppm"),
            F.expr("n_lsh_true * 1000000 DIV n_candidates").alias(
                "precision_ppm"
            ),
        )
    )


def lsh_eval_oracle(threshold: float) -> str:
    return f"""
WITH mp AS (
{minhash_pairs_oracle()}
),
exd AS (
    SELECT doc_id, source, {_WORDS} AS w FROM documents
),
exs AS (
    SELECT doc_id, source, {_SHINGLES} AS sh FROM exd
),
exn AS (SELECT * FROM exs WHERE len(sh) > 0),
expairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
           len(a.sh) + len(b.sh)
             - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS uni
    FROM exn a JOIN exn b ON a.source = b.source AND a.doc_id < b.doc_id
),
truth AS (
    SELECT doc_a, doc_b FROM expairs
    WHERE ROUND(inter / uni, 6) >= {threshold}
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matched
    FROM truth t
    WHERE EXISTS (SELECT 1 FROM mp
                  WHERE mp.is_near_dup
                    AND mp.doc_a = t.doc_a AND mp.doc_b = t.doc_b)
),
c AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN is_near_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lsh_true
    FROM mp
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_exact,
       m.n_matched,
       c.n_candidates,
       c.n_lsh_true,
       CAST(m.n_matched * 1000000
            // (SELECT COUNT(*) FROM truth) AS BIGINT) AS recall_ppm,
       CAST(c.n_lsh_true * 1000000 // c.n_candidates AS BIGINT)
         AS precision_ppm
FROM m, c
"""


# ---------------------------------------------------------------------------
# Set-containment near-dup pairs — the asymmetric complement to Jaccard:
# a short document wholly contained in a longer one scores low Jaccard
# (size mismatch inflates the union) but containment
# C = |small ∩ big| / |small| ~ 1. This is how sub-document duplication
# (quoted articles, boilerplate-wrapped reposts) is caught.
#
# Spark-first, lossless, and scale-shaped: the candidate filter is the
# AllPairs prefix filter in its containment form with DOCUMENT-FREQUENCY
# token ordering — each document's shingles are globally ordered rarest-
# first, the SMALLER side of any qualifying pair must share one of its
# first |S| - ceil(t*|S|) + 1 shingles (pigeonhole on the required overlap
# ceil(t*|S|)), and because prefixes hold the RAREST shingles the inverted-
# index posting lists the join touches stay short even though the index
# side must carry all tokens (the larger doc is only findable through the
# smaller one's prefix). Verification recomputes exact intersections for
# candidates only. Same-source blocking mirrors `dedup_ngram_jaccard`.

CONTAINMENT_THRESHOLD_PPM = 800_000  # C >= 0.8


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    block_col: str = "source",
    threshold_ppm: int = CONTAINMENT_THRESHOLD_PPM,
) -> DataFrame:
    """(doc_small, doc_big, containment_ppm) for same-block pairs whose
    smaller shingle set is >= threshold contained in the larger (ties on
    size broken by doc_id: the smaller id is 'small')."""
    t = threshold_ppm / 1_000_000
    sh = (
        df.select(
            F.col(block_col).alias("blk"),
            "doc_id",
            dedup.shingles(text_col).alias("sh"),
        )
        .where(F.size("sh") > 0)
    )
    tok = sh.select("blk", "doc_id", F.size("sh").alias("sz"),
                    F.explode("sh").alias("tok"))
    # global document frequency per shingle, attached via ONE window pass
    # (count over partitionBy(tok)) so each doc's shingles can be ordered
    # rarest-first (ties lexicographic). The groupBy+join-back formulation
    # computed the same thing with two shuffles plus a join — benched 2x
    # slower (3.0s -> 1.5s for this stage at sf0.1); the window form is
    # one hash shuffle on tok, same exact counts.
    from pyspark.sql import Window

    # Each doc's shingles re-assembled rarest-first and xxhash64'd; the
    # checkpoint materializes the expensive window+regroup stage once for
    # both join legs. Containment is then verified INLINE in the
    # probe-index join — each row carries its doc's full hashed set, one
    # array_intersect per collision, and only the output-sized survivor
    # set is deduplicated. The two-phase shape this replaces (distinct
    # candidate materialization + dedup._verify_jaccard re-attaching both
    # shingle arrays through two joins) reshuffled the (pair + array)
    # stream between the re-attach joins — the 100x sweep's disk/OOM
    # killer (see ngram_jaccard_pairs for the full account). Hashed-set
    # intersections equal raw-set intersections absent an intra-pair
    # xxhash64 collision (P < 1e-15 per pair); the oracle certifies the
    # result set, not the machinery.
    ordered = (
        tok.withColumn(
            "tdf", F.count("*").over(Window.partitionBy("tok")).cast("long")
        )
        .groupBy("blk", "doc_id", "sz")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tdf", "tok"))),
                lambda s: F.xxhash64(s["tok"]),
            ).alias("hs")
        )
        .localCheckpoint(eager=False)
    )
    plen = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")).cast("int") + 1
    probe = ordered.select(
        "blk", "doc_id", "sz", "hs",
        F.explode(F.slice("hs", 1, plen)).alias("tokh"),
    )
    index = ordered.select(
        "blk",
        F.col("doc_id").alias("doc_i"),
        F.col("sz").alias("sz_i"),
        F.col("hs").alias("hs_i"),
        F.explode("hs").alias("tokh"),
    )
    inter = F.size(F.array_intersect("hs", "hs_i"))
    ppm = (inter.cast("long") * 1_000_000) / F.col("sz")
    return (
        probe.join(index, ["blk", "tokh"])
        .where(
            (F.col("sz") < F.col("sz_i"))
            | ((F.col("sz") == F.col("sz_i")) & (F.col("doc_id") < F.col("doc_i")))
        )
        .select(
            F.col("doc_id").alias("doc_small"),
            F.col("doc_i").alias("doc_big"),
            F.floor(ppm).cast("long").alias("containment_ppm"),
        )
        .where(F.col("containment_ppm") >= threshold_ppm)
        .distinct()  # a pair may share several probe-prefix tokens
    )


def run_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(_docs(spark, sf_dir)).orderBy(
        "doc_small", "doc_big"
    )


def containment_oracle(threshold_ppm: int = CONTAINMENT_THRESHOLD_PPM) -> str:
    # The oracle certifies the RESULT SET, not the candidate machinery: the
    # prefix filter is lossless, so a direct blocked all-pairs containment
    # computes the identical output.
    return f"""
WITH docs AS (
    SELECT doc_id, source, {_WORDS} AS w FROM documents
),
shingled AS (
    SELECT doc_id, source, {_SHINGLES} AS sh FROM docs
),
ne AS (SELECT * FROM shingled WHERE len(sh) > 0),
pairs AS (
    SELECT a.doc_id AS ida, b.doc_id AS idb,
           len(a.sh) AS sza, len(b.sh) AS szb,
           len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter
    FROM ne a JOIN ne b ON a.source = b.source AND a.doc_id < b.doc_id
),
norm AS (
    SELECT CASE WHEN sza < szb OR sza = szb THEN ida ELSE idb END AS doc_small,
           CASE WHEN sza < szb OR sza = szb THEN idb ELSE ida END AS doc_big,
           inter,
           LEAST(sza, szb) AS szs
    FROM pairs
)
SELECT doc_small, doc_big,
       CAST(inter * 1000000 // szs AS BIGINT) AS containment_ppm
FROM norm
WHERE inter * 1000000 // szs >= {threshold_ppm}
ORDER BY doc_small, doc_big
"""


# ---------------------------------------------------------------------------
# Event-sequence pattern matching (CEP / MATCH_RECOGNIZE shape) — the
# complex-event-processing operator relational engines bolt on as
# MATCH_RECOGNIZE (Flink CEP, Oracle/Trino MR). Spark has no native
# MATCH_RECOGNIZE; the Spark-first form: per user, order events by
# (ts, event_id), project each event_type to its (distinct) first letter,
# fold the journey into one symbol string per user, and count
# NON-OVERLAPPING regex matches — `vc*p` (view → clicks → purchase
# conversions) and `ee+` (error bursts). Left-to-right non-overlapping
# greedy scanning is identical in Java regex (Spark) and RE2 (DuckDB) for
# these star/plus patterns, so counts are engine-exact.
#
# Scale: one hash shuffle on user_id; per-user state is the journey string
# (bounded by events-per-user, the same bound any sessionization carries).
# A 100 TB run would window the journey by day/session first — the
# composition is the same fold.
#
# The operator is PARAMETERIZED: callers pass an explicit event_type→symbol
# dictionary plus named regex patterns. The symbol map is validated up
# front (single-char symbols, no collisions) and unknown event types fail
# the job loudly (raise_error / DuckDB error()) instead of being silently
# conflated — mapping via substring(event_type,1,1) would merge e.g. a
# future 'signup'/'search' into one symbol and corrupt every count while
# both engines happily agree.

#: Explicit symbol alphabet for the testdata's event types. Adding an
#: event type to the data REQUIRES adding it here (job fails otherwise).
EVENT_SYMBOLS = {
    "view": "v",
    "click": "c",
    "purchase": "p",
    "error": "e",
    "signup": "s",
}

#: Two certified pattern sets: the original conversion/error-burst pair and
#: a second set (repeat-viewer streaks + signup→browse→purchase journeys)
#: proving the operator generalizes beyond its first compile-time shape.
SEQ_PATTERNS = {
    "n_conversions": "vc*p",
    "n_error_bursts": "ee+",
}
SEQ_PATTERNS_2 = {
    "n_view_streaks": "v{3,}",
    "n_signup_journeys": "s[vc]*p",
}


def _validated_symbols(symbol_map: dict[str, str]) -> dict[str, str]:
    syms = list(symbol_map.values())
    if len(set(syms)) != len(syms):
        raise ValueError(f"colliding symbols in map: {symbol_map}")
    if any(len(s) != 1 for s in syms):
        raise ValueError(f"symbols must be single chars: {symbol_map}")
    return symbol_map


def cep_match(
    events: DataFrame,
    patterns: dict[str, str],
    symbol_map: dict[str, str] = EVENT_SYMBOLS,
) -> DataFrame:
    """Count non-overlapping matches of each named regex over every user's
    symbol journey (events ordered by (ts, event_id), typed via the
    explicit ``symbol_map``). Left-to-right non-overlapping greedy
    scanning is identical in Java regex (Spark) and RE2 (DuckDB) for the
    star/plus/bounded-repeat patterns used here, so counts are
    engine-exact. ``events`` must already carry an ``eus`` epoch-micros
    column (see ``run_seq_match``)."""
    from ..sources.tables import epoch_us  # noqa: F401  (doc pointer)

    symbol_map = _validated_symbols(symbol_map)
    sym = F.lit(None).cast("string")
    for etype, s in sorted(symbol_map.items()):
        sym = F.when(F.col("event_type") == etype, F.lit(s)).otherwise(sym)
    sym = F.coalesce(
        sym,
        F.raise_error(
            F.concat(F.lit("cep_match: unmapped event_type "), F.col("event_type"))
        ),
    )
    ev = events.select("user_id", "event_id", "eus", sym.alias("sym"))
    journey = F.concat_ws(
        "",
        F.transform(
            F.array_sort(F.collect_list(F.struct("eus", "event_id", "sym"))),
            lambda s: s["sym"],
        ),
    )
    counts = [
        F.regexp_count("j", F.lit(rx)).cast("long").alias(name)
        for name, rx in patterns.items()
    ]
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_events"), journey.alias("j"))
        .select("user_id", "n_events", *counts)
        .orderBy("user_id")
    )


def _seq_match_runner(patterns: dict[str, str]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..sources.tables import epoch_us

        ev = load_table(spark, sf_dir, "events")
        ev = ev.select(
            "user_id", "event_id", "event_type", epoch_us(ev, "ts").alias("eus")
        )
        return cep_match(ev, patterns)

    return run


run_seq_match = _seq_match_runner(SEQ_PATTERNS)
run_seq_match2 = _seq_match_runner(SEQ_PATTERNS_2)


def seq_match_oracle(
    patterns: dict[str, str], symbol_map: dict[str, str] = EVENT_SYMBOLS
) -> str:
    sym_case = " ".join(
        f"WHEN '{etype}' THEN '{s}'"
        for etype, s in sorted(_validated_symbols(symbol_map).items())
    )
    count_cols = ",\n".join(
        f"       CAST(len(regexp_extract_all(j, '{rx}')) AS BIGINT) AS {name}"
        for name, rx in patterns.items()
    )
    return f"""
WITH e AS (
    SELECT user_id, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS eus,
           CASE event_type {sym_case}
                ELSE error('cep_match: unmapped event_type') END AS sym
    FROM events
),
j AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           string_agg(sym, '' ORDER BY eus, event_id) AS j
    FROM e GROUP BY user_id
)
SELECT user_id, n_events,
{count_cols}
FROM j
ORDER BY user_id
"""


SEQ_MATCH_ORACLE = seq_match_oracle(SEQ_PATTERNS)
SEQ_MATCH2_ORACLE = seq_match_oracle(SEQ_PATTERNS_2)


# ---------------------------------------------------------------------------
# Markov transition matrix over event types — the behavioral-model staple:
# P(next event type | current) from each user's ordered event stream.
# One LAG window (hash shuffle on user_id) + one combinable groupBy;
# probabilities emitted as floor-division ppm against the per-source-state
# total via a window sum, so every value is an exact integer.


def run_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.tables import epoch_us

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        "user_id",
        "event_id",
        "event_type",
        epoch_us(ev, "ts").alias("eus"),
    )
    w = Window.partitionBy("user_id").orderBy("eus", "event_id")
    pairs = (
        ev.withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return (
        pairs.select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 1000000").cast("long").alias("_num"),
            F.sum("n").over(tot).cast("long").alias("_den"),
        )
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("_num DIV _den").alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


MARKOV_ORACLE = """
WITH e AS (
    SELECT user_id, event_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS eus
    FROM events
),
p AS (
    SELECT LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY eus, event_id) AS from_type,
           event_type AS to_type
    FROM e
),
c AS (
    SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM p WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
         AS p_ppm
FROM c
ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# Multimodal scene-cut detection — shot-boundary analysis over framed
# payloads: the byte-crunching (per-frame luma via one prefix-sum gather)
# is an Arrow kernel; the detector itself (LAG window + integer relative-
# change threshold + per-doc aggregate) is pure JVM SQL. The oracle
# recomputes the identical frames from hex(encode(text)) nibbles, so the
# whole kernel→window→aggregate pipeline is value-certified.


def run_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import multimodal as mm

    return mm.scene_cuts(mm.with_binary_payload(_docs_unspread(spark, sf_dir)))


SCENE_CUTS_ORACLE = """
WITH b AS (
    SELECT doc_id, strlen(text) AS n, hex(encode(text)) AS hx FROM documents
),
bytes AS (
    SELECT doc_id, CAST((i - 1) // 256 AS INT) AS frame_id,
           (strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substring(hx, 2*i, 1)) - 1 AS v
    FROM b, unnest(range(1, n + 1)) AS t(i)
),
fr AS (
    SELECT doc_id, frame_id, CAST(SUM(v) AS BIGINT) AS luma,
           CAST(COUNT(*) AS BIGINT) AS flen
    FROM bytes GROUP BY doc_id, frame_id
),
l AS (
    SELECT doc_id, frame_id, luma, flen,
           LAG(luma) OVER (PARTITION BY doc_id ORDER BY frame_id) AS prev,
           LAG(flen) OVER (PARTITION BY doc_id ORDER BY frame_id) AS plen
    FROM fr
),
c AS (
    SELECT doc_id, frame_id,
           prev IS NOT NULL
           AND ABS(luma * plen - prev * flen) * 20 > prev * flen AS cut
    FROM l
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(COALESCE(MIN(CASE WHEN cut THEN frame_id END), -1) AS INT)
         AS first_cut
FROM c GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Silence trimming — the audio-VAD preprocessing shape on framed payloads:
# a frame is "quiet" iff its mean byte value is below the CORPUS mean
# (cross-multiplied integers: luma·Σflen < Σluma·flen — no division, no
# arbitrary constant, guaranteed variation on any data); each payload
# reports its active span (first/last non-quiet frame) and how many
# frames a leading/trailing trim would drop. Same scale shape as
# scene_cuts: the Arrow prefix-sum kernel feeds one broadcast global
# aggregate and one combinable per-doc aggregate.


def run_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import multimodal as mm

    binary = mm.with_binary_payload(_docs_unspread(spark, sf_dir))
    fl = mm.frame_lumas(binary)
    # Global mean from payload_totals, NOT a second frame_lumas pass:
    # frames partition each payload exactly, so (sum luma, sum flen) ==
    # (sum of all payload bytes, total byte count) — one np.sum per batch
    # instead of re-running the frame-table kernel (r8; the expensive
    # kernel now executes exactly once per query).
    tot = mm.payload_totals(binary).agg(
        F.sum("luma").alias("tl"), F.sum("flen").alias("tf")
    )
    flagged = fl.crossJoin(F.broadcast(tot)).withColumn(
        "active", F.col("luma") * F.col("tf") >= F.col("tl") * F.col("flen")
    )
    act = F.when(F.col("active"), F.col("frame_id"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_frames"),
            F.sum(F.when(F.col("active"), 1).otherwise(0))
            .cast("long")
            .alias("n_active"),
            F.coalesce(F.min(act), F.lit(-1)).cast("int").alias("first_active"),
            F.coalesce(F.max(act), F.lit(-1)).cast("int").alias("last_active"),
        )
        .select(
            "doc_id",
            "n_frames",
            "n_active",
            "first_active",
            "last_active",
            # frames a leading+trailing trim keeps (0 when fully quiet)
            F.when(F.col("first_active") < 0, F.lit(0))
            .otherwise(F.col("last_active") - F.col("first_active") + 1)
            .cast("long")
            .alias("kept_span"),
        )
        .orderBy("doc_id")
    )


SILENCE_TRIM_ORACLE = """
WITH b AS (
    SELECT doc_id, strlen(text) AS n, hex(encode(text)) AS hx FROM documents
),
bytes AS (
    SELECT doc_id, CAST((i - 1) // 256 AS INT) AS frame_id,
           (strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substring(hx, 2*i, 1)) - 1 AS v
    FROM b, unnest(range(1, n + 1)) AS t(i)
),
fr AS (
    SELECT doc_id, frame_id, CAST(SUM(v) AS BIGINT) AS luma,
           CAST(COUNT(*) AS BIGINT) AS flen
    FROM bytes GROUP BY doc_id, frame_id
),
tot AS (SELECT SUM(luma) AS tl, SUM(flen) AS tf FROM fr),
fl AS (
    SELECT doc_id, frame_id, luma, flen,
           luma * (SELECT tf FROM tot) >= (SELECT tl FROM tot) * flen
             AS active
    FROM fr
),
agg AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
           CAST(COALESCE(MIN(CASE WHEN active THEN frame_id END), -1) AS INT)
             AS first_active,
           CAST(COALESCE(MAX(CASE WHEN active THEN frame_id END), -1) AS INT)
             AS last_active
    FROM fl GROUP BY doc_id
)
SELECT doc_id, n_frames, n_active, first_active, last_active,
       CAST(CASE WHEN first_active < 0 THEN 0
                 ELSE last_active - first_active + 1 END AS BIGINT)
         AS kept_span
FROM agg ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Deterministic mode + exact median per group — the two order-statistics
# aggregates the coverage suite hadn't pinned. Spark 4 ships native
# `mode()`/`median()`, but `mode()` documents ties as non-deterministic, so
# the engine form makes the tie rule explicit (max count, then SMALLEST
# value) via one count aggregate + max_by over an orderable (count, -value)
# struct — two combinable shuffles, deterministic on any engine. Median is
# native `median()` (exact; avg of middle two on even counts), certified
# against DuckDB's identical interpolation.


def run_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy("l_returnflag", F.col("l_linenumber").alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    mode = counts.groupBy("l_returnflag").agg(
        F.expr("max_by(v, struct(c, -v))").cast("int").alias("mode_linenumber")
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median(F.col("l_quantity").cast("double")), 6)
        .alias("median_qty"),
        F.count("*").cast("long").alias("n_rows"),
    )
    return (
        mode.join(med, "l_returnflag")
        .select("l_returnflag", "mode_linenumber", "median_qty", "n_rows")
        .orderBy("l_returnflag")
    )


MODE_MEDIAN_ORACLE = """
WITH c AS (
    SELECT l_returnflag, l_linenumber AS v, COUNT(*) AS c
    FROM lineitem GROUP BY l_returnflag, l_linenumber
),
m AS (
    SELECT l_returnflag, CAST(v AS INT) AS mode_linenumber
    FROM (SELECT l_returnflag, v,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                    ORDER BY c DESC, v) AS rn
          FROM c)
    WHERE rn = 1
),
md AS (
    SELECT l_returnflag,
           ROUND(MEDIAN(CAST(l_quantity AS DOUBLE)), 6) AS median_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
)
SELECT m.l_returnflag, m.mode_linenumber, md.median_qty, md.n_rows
FROM m JOIN md ON m.l_returnflag = md.l_returnflag
ORDER BY m.l_returnflag
"""


# ---------------------------------------------------------------------------
# Mean-shift change-point detection — per-user single change point by the
# binary-segmentation objective: choose split k maximizing
# |mean(left) - mean(right)| · k·(n-k), which equals |n·S_k - k·S_n| in
# integer micro-units (the CUSUM-statistic numerator) — so the argmax is
# EXACT integer arithmetic, deterministic with ties to the smallest k.
#
# Spark-first: one hash shuffle on user_id for the running-sum window, one
# map-side-combinable argmax aggregate (`max_by` over an orderable
# (score, -k) struct). No iteration, no UDF; at 100 TB this is two linear
# passes — the relational form of the first level of binary segmentation.


def run_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.tables import epoch_us

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        "user_id",
        "event_id",
        epoch_us(ev, "ts").alias("eus"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vus"),
    )
    w = Window.partitionBy("user_id").orderBy("eus", "event_id")
    pref = ev.select(
        "user_id",
        F.row_number().over(w).alias("k"),
        F.sum("vus").over(w).alias("sk"),
    )
    tot = Window.partitionBy("user_id")
    scored = pref.select(
        "user_id",
        "k",
        F.max("k").over(tot).alias("n"),
        F.last("sk").over(
            tot.orderBy("k").rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing)
        ).alias("sn"),
        "sk",
    ).where(F.col("k") < F.col("n"))
    d = F.abs(F.col("n") * F.col("sk") - F.col("k") * F.col("sn"))
    return (
        scored.groupBy("user_id")
        .agg(
            (F.max("n")).cast("long").alias("n_events"),
            F.expr(
                "max_by(k, struct(abs(n * sk - k * sn), -k))"
            ).cast("long").alias("best_k"),
            F.max(d).cast("long").alias("d_max"),
        )
        .orderBy("user_id")
    )


CHANGEPOINT_ORACLE = """
WITH e AS (
    SELECT user_id, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS eus,
           CAST(FLOOR(value * 1000000) AS BIGINT) AS vus
    FROM events
),
p AS (
    SELECT user_id,
           ROW_NUMBER() OVER w AS k,
           SUM(vus) OVER w AS sk
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY eus, event_id)
),
s AS (
    SELECT user_id, k, sk,
           MAX(k) OVER (PARTITION BY user_id) AS n,
           LAST_VALUE(sk) OVER (PARTITION BY user_id ORDER BY k
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS sn
    FROM p
),
d AS (
    SELECT user_id, k, n, ABS(n * sk - k * sn) AS score
    FROM s WHERE k < n
)
SELECT user_id,
       CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(MIN(k) FILTER (WHERE score = ms) AS BIGINT) AS best_k,
       CAST(MAX(score) AS BIGINT) AS d_max
FROM (SELECT *, MAX(score) OVER (PARTITION BY user_id) AS ms FROM d)
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Per-node local clustering coefficient — the node-level refinement of the
# global triangle census: lcc(v) = 2·t_v / (deg_v·(deg_v-1)), emitted as a
# floor-division ppm integer. Each closed wedge from the census join
# contributes its THREE member nodes via one posexplode — still the
# Suri-Vassilvitskii shape, one extra combinable aggregate.


def run_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import trade_edges

    t = {n: load_table(spark, sf_dir, n)
         for n in ("lineitem", "orders", "customer", "supplier", "nation")}
    de = trade_edges(t["lineitem"], t["orders"], t["customer"],
                     t["supplier"], t["nation"])
    und = (
        de.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        # Pin: five consumers below (degree union x2, both wedge legs,
        # the triangle-closing join) each carry the full trade_edges
        # fact-join subtree unpinned — same rationale and measured win
        # as run_triangles (AQE reuses the exchanges at runtime, but the
        # pin collapses the planned/executed stage graph). <= |V|^2
        # rows; lazy checkpoint.
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y1"))
    e2 = und.select(F.col("a").alias("x"), F.col("b").alias("y2"))
    tri_nodes = (
        e1.join(e2, "x")
        .where(F.col("y1") < F.col("y2"))
        .join(und, (F.col("y1") == F.col("a")) & (F.col("y2") == F.col("b")))
        .select(F.explode(F.array("x", "y1", "y2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    return (
        deg.join(tri_nodes, "node", "left")
        .na.fill({"n_tri": 0})
        .select(
            "node",
            "degree",
            "n_tri",
            F.when(
                F.col("degree") >= 2,
                F.expr("n_tri * 2000000 DIV (degree * (degree - 1))"),
            )
            .otherwise(0)
            .cast("long")
            .alias("lcc_ppm"),
        )
        .orderBy("node")
    )


LOCAL_CLUSTERING_ORACLE = """
WITH e0 AS (
    SELECT n1.n_name AS src, n2.n_name AS dst
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    GROUP BY n1.n_name, n2.n_name
),
und AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM e0 WHERE src <> dst
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
    ) GROUP BY node
),
tn AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT unnest([e1.a, e1.b, e2.b]) AS node
        FROM und e1
        JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    ) GROUP BY node
)
SELECT d.node, d.degree, COALESCE(tn.n_tri, 0) AS n_tri,
       CAST(CASE WHEN d.degree >= 2
                 THEN COALESCE(tn.n_tri, 0) * 2000000 // (d.degree * (d.degree - 1))
                 ELSE 0 END AS BIGINT) AS lcc_ppm
FROM deg d LEFT JOIN tn ON tn.node = d.node
ORDER BY d.node
"""


# ---------------------------------------------------------------------------
# Embedding centroid-distance outliers — corpus QC for the vector family:
# the top-k vectors farthest (squared L2) from the corpus centroid, the
# standard first-pass screen for corrupt/degenerate embeddings before they
# poison ANN indexes or SemDeDup clustering.
#
# Exactness: values are micro-unit integers (vus = floor(x·1e6)); the
# centered term is computed as vus·n - Σvus (no division), squared into
# DECIMAL(38,0) (the square can exceed int64), summed exactly, and ONE
# final positive floor-division by n² brings the score back to bigint
# micro-units² — bit-identical across engines and partitionings.
#
# Scale: one posexplode shuffle for the 64-row per-dimension stats table
# (broadcast back), one combinable per-vector aggregate, TakeOrdered top-k.


def run_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "pos",
        F.expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").alias(
            "vus"
        ),
    )
    # Per-dimension (Σvus, n) is DIMS integers — the same legitimately
    # driver-sized reduction as bq_stats/sq8_stats (r11). Collecting it
    # lets the scoring side stay ARRAY-SIDE: the old form posexploded the
    # corpus a second time, broadcast-joined corpus×dim rows, and
    # shuffled them back through a corpus×dim groupBy(vec_id); now the
    # squared distance folds per row (zero exchanges before the top-k).
    # The arithmetic is the identical exact-integer sequence per
    # position j: cn = vus·n_j − s_j (bigint), Σ decimal(38,0) cn²,
    # DIV max(n_j)².
    # NOTE: this collect() makes the function EAGER — the stats are a
    # snapshot at build time (advisor r11). Fine for the registry's
    # run-then-collect contract; a caller mutating `embeddings` between
    # build and execution would score against the snapshot.
    srt = sorted(
        (r["pos"], int(r["s"]), int(r["n"]))
        for r in v.groupBy("pos").agg(
            F.sum("vus").alias("s"), F.count("*").cast("long").alias("n")
        ).collect()
    )
    if not srt:
        # Empty embeddings table: zero-element array() literals make the
        # zip_with lambdas unresolvable — return the empty result the old
        # lazy plan produced (advisor r12).
        return emb.select(
            "vec_id", F.expr("CAST(NULL AS BIGINT)").alias("dist2_us")
        ).limit(0)
    s_lits = ", ".join(f"{s}L" for _, s, _ in srt)
    n_lits = ", ".join(f"{n}L" for _, _, n in srt)
    # cn_j = vus_j·n_j − s_j per position (bigint), Σ decimal(38,0) cn²,
    # DIV max(n_j over the vector's positions)² — op-for-op the old plan.
    dist2 = F.expr(
        "CAST(aggregate("
        " zip_with("
        "  zip_with("
        "   transform(embedding, x ->"
        "     CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),"
        f"   slice(array({n_lits}), 1, size(embedding)), (v, n) -> v * n),"
        f"  slice(array({s_lits}), 1, size(embedding)), (vn, s) -> vn - s),"
        " CAST(0 AS DECIMAL(38,0)),"
        " (acc, cn) -> acc + CAST(cn AS DECIMAL(38,0)) * cn)"
        f" DIV (aggregate(slice(array({n_lits}), 1, size(embedding)),"
        "       CAST(0 AS BIGINT), (a, x) -> greatest(a, x))"
        f"  * aggregate(slice(array({n_lits}), 1, size(embedding)),"
        "       CAST(0 AS BIGINT), (a, x) -> greatest(a, x)))"
        " AS BIGINT)"
    )
    return (
        # size(embedding) > 0 restores the posexplode form's drop
        # semantics for degenerate rows (advisor r12): a NULL embedding
        # made slice(..., 1, size()) throw (size(NULL) = -1) and an empty
        # one yielded a NULL dist2 that could enter the top-20 where the
        # old plan emitted nothing for the row.
        emb.where(F.expr("size(embedding) > 0"))
        .select("vec_id", dist2.alias("dist2_us"))
        .orderBy(F.desc("dist2_us"), "vec_id")
        .limit(20)
    )


CENTROID_OUTLIERS_ORACLE = """
WITH v AS (
    SELECT vec_id, pos,
           CAST(FLOOR(CAST(embedding[pos] AS DOUBLE) * 1000000) AS BIGINT)
             AS vus
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(pos)
),
st AS (
    SELECT pos, SUM(vus) AS s, CAST(COUNT(*) AS BIGINT) AS n
    FROM v GROUP BY pos
),
c AS (
    SELECT v.vec_id, st.n,
           CAST(v.vus * st.n - st.s AS HUGEINT) AS cn
    FROM v JOIN st ON v.pos = st.pos
)
SELECT vec_id,
       CAST(SUM(cn * cn) // (MAX(n) * MAX(n)) AS BIGINT) AS dist2_us
FROM c GROUP BY vec_id
ORDER BY dist2_us DESC, vec_id
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Row-level sessionization — the assignment form of session windows: every
# event gets a (user_id, session_idx) label (new session when the gap from
# the previous event exceeds the threshold), which is what downstream
# pipelines JOIN against; `ev_session_window` only emits the aggregate.
# One LAG window + one running SUM over the same partition — a single hash
# shuffle on user_id, both passes window-fused by Spark.

SESSION_GAP_MIN = 30


def run_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.tables import epoch_us

    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        "user_id", "event_id", epoch_us(ev, "ts").alias("eus")
    )
    w = Window.partitionBy("user_id").orderBy("eus", "event_id")
    brk = (
        F.lag("eus").over(w).isNull()
        | (F.col("eus") - F.lag("eus").over(w) >= gap_us)
    ).cast("int")
    # No cosmetic global ORDER BY on the corpus-sized output: range
    # partitioning's sampling pass re-executes the child — here the two
    # window passes over every event — and the correctness gates sort
    # canonically anyway (same rule as text_winnow/text_normalize; the
    # r6 100x sweep measured ev_sessionize at 43.5x wall largely on the
    # doubled window work).
    return (
        ev.withColumn("_brk", brk)
        .withColumn(
            "session_idx",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("int"),
        )
        .select("user_id", "event_id", "eus", "session_idx")
    )


SESSIONIZE_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS eus
    FROM events
),
b AS (
    SELECT user_id, event_id, eus,
           CASE WHEN LAG(eus) OVER w IS NULL
                  OR eus - LAG(eus) OVER w >= {SESSION_GAP_MIN} * 60 * 1000000
                THEN 1 ELSE 0 END AS brk
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY eus, event_id)
)
SELECT user_id, event_id, eus,
       CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY eus, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS INT) AS session_idx
FROM b
ORDER BY user_id, eus, event_id
"""


# ---------------------------------------------------------------------------
# N-gram novelty scoring — dataset-curation signal: for each document (in
# doc_id order, the ingest order), the fraction of its distinct shingles
# never seen in ANY earlier document. Duplicate-heavy or boilerplate docs
# score near zero; genuinely new content scores high — the ranking signal
# novelty-aware samplers use. First-occurrence per shingle is one min
# aggregate over the exploded (shingle, doc_id) pairs — linear, combinable;
# the per-doc fraction is a ppm integer.


def run_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (first-occurrence shingle share, ppm).

    Skew: the first-occurrence attach is a window partitioned by shingle,
    so a corpus-wide boilerplate shingle lands in ONE window task. The
    skew-safe alternatives are slower at every measured size (sf0.1, one
    JVM, 10 alternations: this form 0.81-0.91 s; aggregate + join-back
    1.56 s, 0/10 wins; first-doc count joined to ``size(shingles)``
    1.27 s), so this is the only form.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    # ONE corpus tokenize+shingle pass (r11; the star-contraction /
    # retention-cohorts window pattern, guide §2.4): the old
    # groupBy+join-back form planned the explode TWICE (aggregate +
    # probe legs — exchange reuse is defeated by the different exchange
    # keys) and shuffled the full exploded stream a second time through
    # a sort-merge join. `min(doc_id) OVER (PARTITION BY s)` attaches the
    # first-occurrence doc in the one (s) shuffle; the per-doc aggregate
    # is then map-side combinable.
    sh = docs.select(
        "doc_id", F.explode(dedup.shingles("text")).alias("s")
    )
    return (
        sh.withColumn("first_doc", F.min("doc_id").over(Window.partitionBy("s")))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                  .otherwise(0)).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("n_novel * 1000000 DIV n_shingles").alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


NGRAM_NOVELTY_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, {_WORDS} AS w FROM documents
),
sh AS (
    SELECT doc_id, unnest({_SHINGLES}) AS s FROM docs
),
f AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
FROM sh JOIN f ON f.s = sh.s
GROUP BY sh.doc_id
ORDER BY sh.doc_id
"""


# ---------------------------------------------------------------------------
# Event-type co-occurrence / lift matrix — the market-basket complement to
# the sequential Markov matrix: for each unordered pair of event types,
# how many users performed both, with support and lift as ppm integers
# (lift > 1e6 means the types co-occur more than independence predicts).
# Two combinable aggregates + one self-join on user_id over the distinct
# (user, type) projection — every stage is linear and map-side combinable;
# the type-pair output is |types|² rows regardless of event volume.


def run_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    nu = ut.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    per_type = ut.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    both = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    pa = per_type.select(F.col("event_type").alias("type_a"),
                         F.col("n").alias("n_a"))
    pb = per_type.select(F.col("event_type").alias("type_b"),
                         F.col("n").alias("n_b"))
    return (
        both.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .crossJoin(F.broadcast(nu))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.expr("n_both * 1000000 DIV n_users").alias("support_ppm"),
            # lift = P(a,b) / (P(a)P(b)) = n_both * n_users / (n_a * n_b)
            F.expr("n_both * n_users * 1000000 DIV (n_a * n_b)")
            .alias("lift_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


COOCCURRENCE_ORACLE = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
pt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY event_type),
bo AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_both
    FROM ut a JOIN ut b ON a.user_id = b.user_id
    WHERE a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT bo.type_a, bo.type_b, bo.n_both,
       CAST(bo.n_both * 1000000 // nu.n_users AS BIGINT) AS support_ppm,
       CAST(bo.n_both * nu.n_users * 1000000 // (pa.n * pb.n) AS BIGINT)
         AS lift_ppm
FROM bo
JOIN pt pa ON pa.event_type = bo.type_a
JOIN pt pb ON pb.event_type = bo.type_b
CROSS JOIN nu
ORDER BY bo.type_a, bo.type_b
"""


# ---------------------------------------------------------------------------
# Inter-event gap histogram — the latency/activity profile: distribution of
# per-user gaps between consecutive events in log2-second buckets. The
# bucket is computed from the INTEGER gap's binary-representation length
# (Spark `bin()`, DuckDB `printf('%b')`) — exact on both engines, immune
# to libm log2 ulp differences at power-of-two boundaries. One LAG window
# shuffle + one combinable histogram aggregate.


def run_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.tables import epoch_us

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        "user_id", "event_id", epoch_us(ev, "ts").alias("eus")
    )
    w = Window.partitionBy("user_id").orderBy("eus", "event_id")
    gaps = (
        ev.withColumn("_prev", F.lag("eus").over(w))
        .select(
            "user_id",
            F.expr("(eus - _prev) DIV 1000000").alias("gap_s"),
        )
        .where(F.col("gap_s").isNotNull())
    )
    bucket = (
        F.when(F.col("gap_s") <= 0, F.lit(-1))
        .otherwise(F.length(F.expr("bin(gap_s)")) - 1)
        .cast("int")
    )
    return (
        gaps.groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .orderBy("log2_bucket")
    )


GAP_HISTOGRAM_ORACLE = """
WITH e AS (
    SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS eus
    FROM events
),
g AS (
    SELECT (eus - LAG(eus) OVER (PARTITION BY user_id
                                 ORDER BY eus, event_id)) // 1000000 AS gap_s
    FROM e
),
b AS (
    SELECT gap_s,
           CASE WHEN gap_s <= 0 THEN -1
                ELSE CAST(length(printf('%b', gap_s)) - 1 AS INT)
           END AS log2_bucket
    FROM g WHERE gap_s IS NOT NULL
)
SELECT log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
FROM b GROUP BY log2_bucket ORDER BY log2_bucket
"""


# ---------------------------------------------------------------------------
# Two-slice drift profile — the data-quality monitor a scheduled pipeline
# runs between loads: split the stream at its time midpoint and report,
# per event_type, how volume and value distribution moved (count ratio and
# integer micro-unit mean shift). A full outer join keeps types that
# appear in only one half visible. All-integer (floor-division means), one
# scan + two combinable aggregates.


def run_drift_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import epoch_us

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        "event_type",
        epoch_us(ev, "ts").alias("eus"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vus"),
    )
    bounds = ev.agg(
        F.expr("(min(eus) + max(eus)) div 2").alias("cut")
    )
    ev = ev.crossJoin(F.broadcast(bounds))

    def half(cond, tag):
        return (
            ev.where(cond)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias(f"n_{tag}"),
                # FLOOR division (matches DuckDB //): Spark's DIV truncates
                # toward zero, which diverges by 1 on negative sums — the
                # correction term makes the result exact-floored for any
                # sign of sum(vus) without a lossy double round-trip.
                F.expr(
                    "sum(vus) DIV count(*) - (CASE WHEN sum(vus) % count(*)"
                    " != 0 AND sum(vus) < 0 THEN 1 ELSE 0 END)"
                ).alias(f"mean_{tag}_us"),
            )
        )

    a = half(F.col("eus") <= F.col("cut"), "a")
    b = half(F.col("eus") > F.col("cut"), "b")
    return (
        a.join(b, "event_type", "full_outer")
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.expr("coalesce(n_b, 0) * 1000000 DIV coalesce(n_a, 0)")
            .alias("count_ratio_ppm"),
            "mean_a_us",
            "mean_b_us",
            (F.col("mean_b_us") - F.col("mean_a_us")).alias("mean_shift_us"),
        )
        .orderBy("event_type")
    )


DRIFT_PROFILE_ORACLE = """
WITH e AS (
    SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS eus,
           CAST(FLOOR(value * 1000000) AS BIGINT) AS vus
    FROM events
),
c AS (SELECT (MIN(eus) + MAX(eus)) // 2 AS cut FROM e),
a AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_a,
           CAST(SUM(vus) // COUNT(*) AS BIGINT) AS mean_a_us
    FROM e WHERE eus <= (SELECT cut FROM c) GROUP BY event_type
),
b AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(SUM(vus) // COUNT(*) AS BIGINT) AS mean_b_us
    FROM e WHERE eus > (SELECT cut FROM c) GROUP BY event_type
)
SELECT COALESCE(a.event_type, b.event_type) AS event_type,
       a.n_a, b.n_b,
       CAST(COALESCE(b.n_b, 0) * 1000000 // COALESCE(a.n_a, 0) AS BIGINT)
         AS count_ratio_ppm,
       a.mean_a_us, b.mean_b_us,
       CAST(b.mean_b_us - a.mean_a_us AS BIGINT) AS mean_shift_us
FROM a FULL OUTER JOIN b ON a.event_type = b.event_type
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# kNN-graph construction (batch ANN) — see similarity.knn_graph. The
# oracle recomputes the same LSH buckets from the shared hyperplane
# literals and ranks per-bucket pair cosines with exact decimal sums.
# Plane count is corpus-scaled on BOTH sides (similarity.scaled_planes
# <-> the ``params`` CTE) so per-bucket membership stays ~TARGET_CELL and
# the kernel is linear at any scale — the 10x gate measured 40x wall with
# the old fixed-4-plane bucketing.

KNN_GRAPH_K = 3


def run_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_graph(emb, k=KNN_GRAPH_K).orderBy("src", "rank")


def knn_graph_oracle(k: int = KNN_GRAPH_K) -> str:
    from .similarity import MAX_PLANES, N_PLANES, TARGET_CELL
    from .shared import _DOT_DEC
    from .oracles import _hyperplane_values_sql

    return f"""
WITH params AS (
    SELECT CAST(LEAST({MAX_PLANES}, GREATEST({N_PLANES},
             CASE WHEN m > 1
                  THEN CAST(CEIL(LOG2(CAST(m AS DOUBLE))) AS INT)
                  ELSE 1 END)) AS INT) AS p
    FROM (SELECT (COUNT(*) + {TARGET_CELL - 1}) // {TARGET_CELL} AS m
          FROM embeddings)
),
hp AS (
    SELECT j, v FROM (VALUES {_hyperplane_values_sql(MAX_PLANES)}) t(j, v)
    WHERE j < (SELECT p FROM params)
),
pr AS (
    SELECT e.vec_id, hp.j,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           unnest(hp.v) AS y
    FROM embeddings e CROSS JOIN hp
),
hdots AS (
    SELECT vec_id, j, {_DOT_DEC} AS d FROM pr GROUP BY vec_id, j
),
buckets AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN d > 0 THEN CAST(POW(2, j) AS BIGINT)
                    ELSE 0 END) AS INT) AS bucket
    FROM hdots GROUP BY vec_id
),
nrm AS (
    SELECT vec_id,
           SQRT(CAST(SUM(CAST(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)
                AS DECIMAL(28,14))) AS DOUBLE)) AS nm
    FROM (SELECT vec_id, unnest(embedding) AS u FROM embeddings) t
    GROUP BY vec_id
),
pairs AS (
    SELECT a.vec_id AS src, b.vec_id AS nbr,
           CAST(unnest(a.embedding) AS DOUBLE) AS x,
           CAST(unnest(b.embedding) AS DOUBLE) AS y
    FROM embeddings a
    JOIN buckets ba ON ba.vec_id = a.vec_id
    JOIN buckets bb ON bb.bucket = ba.bucket
    JOIN embeddings b ON b.vec_id = bb.vec_id AND b.vec_id <> a.vec_id
),
pdots AS (
    SELECT src, nbr, {_DOT_DEC} AS dot FROM pairs GROUP BY src, nbr
),
sc AS (
    SELECT d.src, d.nbr,
           ROUND(d.dot / (CASE WHEN na.nm = 0 THEN 1 ELSE na.nm END
                          * CASE WHEN nb.nm = 0 THEN 1 ELSE nb.nm END), 6)
             AS cosine
    FROM pdots d
    JOIN nrm na ON na.vec_id = d.src
    JOIN nrm nb ON nb.vec_id = d.nbr
),
r AS (
    SELECT src, nbr, cosine,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY cosine DESC, nbr) AS rk
    FROM sc
)
SELECT src, CAST(rk AS INT) AS rank, nbr, cosine
FROM r WHERE rk <= {k}
ORDER BY src, rank
"""


# ---------------------------------------------------------------------------
# Conversion attribution: last-touch marketing attribution over the event
# stream (the standard web-analytics workload — every purchase credits the
# most recent preceding touch event within a lookback window, else 'none').
# One shuffle (partition by user), one window pass — same linear shape as
# the sessionize/SCD2 family. Values are exact floor-micro integers.

ATTRIBUTION_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000  # 7 days
ATTRIBUTION_TOUCH_TYPES = ("click", "view")


def attribution(ev: DataFrame,
                lookback_us: int = ATTRIBUTION_LOOKBACK_US,
                touch_types: tuple[str, ...] = ATTRIBUTION_TOUCH_TYPES,
                conversion_type: str = "purchase") -> DataFrame:
    """Last-touch attribution over a pre-projected event frame with
    columns (user_id, event_type, event_id, eus, vus). Per user, each
    conversion credits the most recent STRICTLY-preceding touch event
    within ``lookback_us`` (ties broken by event_id, the same
    deterministic ordering as the sessionize family); conversions with no
    qualifying touch land in the 'none' bucket. Returns one row per
    credited touch type: (touch_type, n_conversions, value_us)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("eus", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin(list(touch_types)),
        F.struct(F.col("eus").alias("teus"),
                 F.col("event_type").alias("ttype")),
    )
    credited = (
        ev.withColumn("lt", F.last(touch, ignorenulls=True).over(w))
        .where(F.col("event_type") == conversion_type)
        .select(
            F.when(
                F.col("lt").isNotNull()
                & (F.col("eus") - F.col("lt.teus") <= lookback_us),
                F.col("lt.ttype"),
            ).otherwise(F.lit("none")).alias("touch_type"),
            "vus",
        )
    )
    return (
        credited.groupBy("touch_type")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.sum("vus").cast("long").alias("value_us"),
        )
        .orderBy("touch_type")
    )


def run_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import epoch_us

    ev = load_table(spark, sf_dir, "events")
    return attribution(
        ev.select(
            "user_id",
            "event_type",
            "event_id",
            epoch_us(ev, "ts").alias("eus"),
            F.floor(F.col("value") * 1_000_000).cast("long").alias("vus"),
        )
    )


def linear_attribution(ev: DataFrame,
                       lookback_us: int = ATTRIBUTION_LOOKBACK_US,
                       touch_types: tuple[str, ...] = ATTRIBUTION_TOUCH_TYPES,
                       conversion_type: str = "purchase") -> DataFrame:
    """Linear (equal-split) multi-touch attribution: every touch within
    the lookback strictly preceding a conversion (ties by event_id, the
    last-touch rule) receives an equal share of its value; conversions
    with no qualifying touch land in 'none' with their full value.

    Scale shape: the purchase->touch pairing is the bucketized range-join
    idiom (bucket width = lookback, purchases probe their own + previous
    bucket), so the equi-join keys are (user_id, bucket) and pair work is
    bounded by touches per user-window — the OUTPUT of linear
    attribution, not an artifact of the plan. Credit is exact integer
    arithmetic: ``vus * 1e6 DIV n_touches`` pico-dollar shares summed in
    DECIMAL(38,0), emitted as floor-MICRO dollars (a raw pico BIGINT
    output overflowed at the 100x gate — 4.8e19 > int64; micro emission
    keeps sub-micro split exactness inside the aggregate and overflows
    only past ~1e12 conversions; floor correction matches DuckDB // on
    negative totals).

    Returns (touch_type, n_credits, value_credit_us) per credited type.
    """
    from pyspark.sql import Window

    pur = ev.where(F.col("event_type") == conversion_type).select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("eus").alias("peus"),
        "vus",
    )
    tou = ev.where(F.col("event_type").isin(list(touch_types))).select(
        "user_id",
        F.col("event_type").alias("ttype"),
        F.col("event_id").alias("tid"),
        F.col("eus").alias("teus"),
        F.expr(f"eus DIV {lookback_us}").alias("bucket"),
    )
    probe = pur.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"peus DIV {lookback_us}"),
                F.expr(f"peus DIV {lookback_us} - 1"),
            )
        ),
    )
    strictly_before = (F.col("teus") < F.col("peus")) | (
        (F.col("teus") == F.col("peus")) & (F.col("tid") < F.col("pid"))
    )
    pairs = (
        probe.join(tou, ["user_id", "bucket"])
        .where(strictly_before & (F.col("teus") >= F.col("peus") - lookback_us))
        .select("pid", "vus", "ttype")
    )
    n_w = Window.partitionBy("pid")
    # FLOOR division (matches DuckDB //): same negative-sum correction as
    # run_drift_profile, so a negative-valued events table can't diverge.
    credited = pairs.withColumn(
        "n_t", F.count("*").over(n_w)
    ).withColumn(
        "credit",
        F.expr(
            "vus * 1000000 DIV n_t - (CASE WHEN (vus * 1000000) % n_t != 0"
            " AND vus < 0 THEN 1 ELSE 0 END)"
        ),
    )
    unattributed = (
        pur.join(pairs.select("pid").distinct(), "pid", "left_anti")
        .select(
            F.lit("none").alias("ttype"),
            F.expr("vus * 1000000").alias("credit"),
        )
    )
    return (
        credited.select("ttype", "credit")
        .unionByName(unattributed)
        .groupBy(F.col("ttype").alias("touch_type"))
        .agg(
            F.count("*").cast("long").alias("n_credits"),
            F.expr(
                "CAST(SUM(CAST(credit AS DECIMAL(38,0))) DIV 1000000"
                " - (CASE WHEN SUM(CAST(credit AS DECIMAL(38,0))) % 1000000"
                " != 0 AND SUM(CAST(credit AS DECIMAL(38,0))) < 0"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("value_credit_us"),
        )
        .orderBy("touch_type")
    )


def run_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import epoch_us

    ev = load_table(spark, sf_dir, "events")
    return linear_attribution(
        ev.select(
            "user_id",
            "event_type",
            "event_id",
            epoch_us(ev, "ts").alias("eus"),
            F.floor(F.col("value") * 1_000_000).cast("long").alias("vus"),
        )
    )


LINEAR_ATTRIBUTION_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_type, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS eus,
           CAST(FLOOR(value * 1000000) AS BIGINT) AS vus
    FROM events
),
pur AS (
    SELECT user_id, event_id AS pid, eus AS peus, vus
    FROM e WHERE event_type = 'purchase'
),
tou AS (
    SELECT user_id, event_type AS ttype, event_id AS tid, eus AS teus
    FROM e WHERE event_type IN ('click', 'view')
),
pairs AS (
    SELECT p.pid, p.vus, t.ttype
    FROM pur p JOIN tou t ON t.user_id = p.user_id
    WHERE (t.teus < p.peus OR (t.teus = p.peus AND t.tid < p.pid))
      AND t.teus >= p.peus - {ATTRIBUTION_LOOKBACK_US}
),
credited AS (
    SELECT ttype,
           vus * 1000000 // COUNT(*) OVER (PARTITION BY pid) AS credit
    FROM pairs
),
unattributed AS (
    SELECT 'none' AS ttype, vus * 1000000 AS credit
    FROM pur WHERE pid NOT IN (SELECT pid FROM pairs)
)
SELECT ttype AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_credits,
       CAST(SUM(CAST(credit AS HUGEINT)) // 1000000 AS BIGINT)
         AS value_credit_us
FROM (SELECT * FROM credited UNION ALL SELECT * FROM unattributed)
GROUP BY 1
ORDER BY 1
"""


ATTRIBUTION_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_type, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS eus,
           CAST(FLOOR(value * 1000000) AS BIGINT) AS vus
    FROM events
),
t AS (
    SELECT *,
           LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                           THEN struct_pack(teus := eus, ttype := event_type)
                      END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY eus, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
    FROM e
)
SELECT CASE WHEN lt IS NOT NULL
             AND eus - struct_extract(lt, 'teus') <= {ATTRIBUTION_LOOKBACK_US}
            THEN struct_extract(lt, 'ttype') ELSE 'none' END AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(SUM(vus) AS BIGINT) AS value_us
FROM t
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY 1
"""


def extension_entries4() -> list:
    from ..queries.registry import SuiteEntry

    return [
        SuiteEntry(
            "split_group_holdout",
            run_group_holdout,
            group_holdout_oracle(),
            "leakage-safe train/eval split: whole near-dup groups assigned "
            "by md5(group id), so no near-duplicate pair straddles sides",
        ),
        SuiteEntry(
            "dedup_lsh_eval",
            run_lsh_eval,
            lsh_eval_oracle(dedup.JACCARD_THRESHOLD),
            "in-engine LSH quality readout: recall vs exact AllPairs truth "
            "+ candidate precision, as certified ppm integers",
        ),
        SuiteEntry(
            "dedup_containment",
            run_containment,
            containment_oracle(),
            "asymmetric set-containment near-dups (sub-document dup "
            "detection), df-ordered prefix filter, lossless",
        ),
        SuiteEntry(
            "ev_seq_match",
            run_seq_match,
            SEQ_MATCH_ORACLE,
            "CEP / MATCH_RECOGNIZE-shape sequence pattern counts per user "
            "(conversion + error-burst regexes over the ordered journey)",
        ),
        SuiteEntry(
            "ev_seq_match2",
            run_seq_match2,
            SEQ_MATCH2_ORACLE,
            "parameterized CEP: second pattern set (view streaks v{3,} + "
            "signup journeys s[vc]*p) through the same cep_match operator, "
            "explicit collision-checked symbol map",
        ),
        SuiteEntry(
            "ev_markov_transitions",
            run_markov_transitions,
            MARKOV_ORACLE,
            "event-type Markov transition matrix (LAG pairs, ppm "
            "probabilities per source state)",
        ),
        SuiteEntry(
            "agg_mode_median",
            run_mode_median,
            MODE_MEDIAN_ORACLE,
            "deterministic grouped mode (explicit tie rule) + exact native "
            "median, certified cross-engine",
        ),
        SuiteEntry(
            "mm_scene_cuts",
            run_scene_cuts,
            SCENE_CUTS_ORACLE,
            "shot-boundary detection: prefix-sum frame lumas (Arrow "
            "kernel) + JVM lag-window relative-change threshold",
        ),
        SuiteEntry(
            "ev_changepoint",
            run_changepoint,
            CHANGEPOINT_ORACLE,
            "per-user mean-shift change point (binary-segmentation "
            "objective as exact integer CUSUM numerator, two linear passes)",
        ),
        SuiteEntry(
            "graph_local_clustering",
            run_local_clustering,
            LOCAL_CLUSTERING_ORACLE,
            "per-node local clustering coefficient (triangle membership "
            "via posexploded closed wedges, ppm integers)",
        ),
        SuiteEntry(
            "emb_centroid_outliers",
            run_centroid_outliers,
            CENTROID_OUTLIERS_ORACLE,
            "top-k centroid-distance embedding outliers (exact decimal "
            "arithmetic, broadcast per-dim stats, TakeOrdered)",
        ),
        SuiteEntry(
            "ev_sessionize",
            run_sessionize,
            SESSIONIZE_ORACLE,
            "row-level sessionization: per-event (user, session_idx) "
            "labels via LAG + running sum, one shuffle",
        ),
        SuiteEntry(
            "text_ngram_novelty",
            run_ngram_novelty,
            NGRAM_NOVELTY_ORACLE,
            "per-doc n-gram novelty fraction vs all earlier docs "
            "(first-occurrence min aggregate, ppm integers)",
        ),
        SuiteEntry(
            "ev_cooccurrence",
            run_cooccurrence,
            COOCCURRENCE_ORACLE,
            "event-type co-occurrence/lift matrix (market-basket form, "
            "distinct-pair self-join, ppm support and lift)",
        ),
        SuiteEntry(
            "ev_gap_histogram",
            run_gap_histogram,
            GAP_HISTOGRAM_ORACLE,
            "inter-event gap histogram in exact log2 buckets "
            "(binary-length bucketing, no libm drift)",
        ),
        SuiteEntry(
            "profile_drift",
            run_drift_profile,
            DRIFT_PROFILE_ORACLE,
            "two-slice drift profile: per-type count ratio + integer "
            "mean shift across the time midpoint",
        ),
        SuiteEntry(
            "sim_knn_graph",
            run_knn_graph,
            knn_graph_oracle(),
            "batch ANN: corpus-wide kNN graph via per-LSH-bucket dense "
            "matmul kernels (the SemDeDup workload shape)",
        ),
        SuiteEntry(
            "mm_silence_trim",
            run_silence_trim,
            SILENCE_TRIM_ORACLE,
            "audio-VAD-shape silence trim: active frame spans vs the "
            "corpus-mean threshold, cross-multiplied integers",
        ),
        SuiteEntry(
            "ev_attribution",
            run_attribution,
            ATTRIBUTION_ORACLE,
            "last-touch conversion attribution: each purchase credits the "
            "latest preceding click/view within a 7-day lookback, exact "
            "floor-micro value sums",
        ),
        SuiteEntry(
            "ev_attribution_linear",
            run_linear_attribution,
            LINEAR_ATTRIBUTION_ORACLE,
            "linear multi-touch attribution: equal exact-integer value "
            "split across all lookback touches (bucketized range-join "
            "pairing, DECIMAL(38,0) sums)",
        ),
    ]
