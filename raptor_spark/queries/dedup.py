"""Near-duplicate detection over the documents and embeddings tables.

Exact content-hash dedup; word-3-gram shingle dedup by MinHash-LSH,
inverted-index Jaccard, the LSH -> Jaccard cascade, connected-component
clustering of its verified pairs and SimHash; embedding-cosine
near-duplicates under sign-bit LSH. Every pair-producing stage is
bounded by a bucket or document-frequency cap (tools/capstress.py
measures them).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from raptor_spark.operators.parse import rebalance_for_parse as _rebalance
from raptor_spark.queries.registry import query


_DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS content_md5, MIN(doc_id) AS rep_doc_id,
       COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


@query("dedup_exact", oracle=_DEDUP_EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash; representative = min doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy(F.md5(F.col("text")).alias("content_md5")).agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).cast("long").alias("dup_count"),
    )


def _shingles(col, n=3):
    """Word n-gram shingles as an array column (whitespace tokenized).

    A document with fewer than n tokens yields the EMPTY array — no
    signature, never a candidate — matching the oracle CTEs' empty
    range. (The guard must be a when(): sequence(0, size-n) with
    size < n would generate a DESCENDING sequence, and the previous
    greatest(size-n, 0) emitted a short under-n shingle that the SQL
    side turned into NULL — divergent short-doc semantics.)"""
    toks = F.split(F.trim(col), r"\s+")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): one row per distinct word-3-gram shingle of each
    document, the first stage of every shingle-based dedup query. The
    documents scan is rebalanced to the session's cores first: the
    shingle explode and the hash work downstream are CPU-bound, and
    documents.parquet is one byte-sized split at test scales."""
    docs = _rebalance(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.select(
        "doc_id", F.explode(F.array_distinct(_shingles(F.col("text")))).alias("sh")
    )


#: LSH banding parameters shared by dedup_minhash / dedup_cascade. b=8
#: bands of r=2 concatenated minhashes: P(candidate) = 1-(1-j^2)^8, the
#: classic b x r S-curve (steep around j ~ 0.45). r >= 2 matters at scale:
#: a 1-row band degenerates to "any shared min-shingle", which buckets
#: boilerplate-heavy corpora into giant clusters.
_LSH_BANDS = 8
_LSH_ROWS = 2
#: hard cap on docs per (band, signature) bucket: an oversized bucket is
#: near-identical boilerplate whose k^2 pair fan-out would dominate the
#: shuffle at corpus scale; such clusters are better handled by the exact
#: dedup_exact path, so LSH drops them instead of emitting k^2 rows.
_LSH_BUCKET_CAP = 50
#: universal-hash minhash lanes: each shingle is hashed ONCE (md5 -> 60-bit
#: prefix, reduced mod the Mersenne prime 2^31-1) and the b*r independent
#: minhash functions are h_i(x) = (a_i*x + b_i) mod p — 16 integer ops per
#: shingle instead of 16 md5 calls, and the per-doc signature through the
#: groupBy is 16 longs (128 B) instead of 16 md5 hex strings (512 B). The
#: 31-bit modulus keeps a_i*x inside a signed 64-bit lane on both engines
#: (DuckDB raises on BIGINT overflow); the two lanes of a band pack into
#: one 62-bit long, so the bucket join key is (int, long).
_MH_P = 2147483647
_MH_AB = [
    (2054730081, 1668083862), (1381560984, 71539990),
    (729512858, 133347923), (1473050824, 100270761),
    (1099550647, 283212492), (1181694378, 419802908),
    (1494373298, 318663385), (1945259633, 1367314271),
    (1382880978, 1593008560), (293948171, 2141913301),
    (1866669699, 352195579), (315686227, 1118610135),
    (1934400445, 1216675730), (963302574, 1005947103),
    (166792497, 2019800082), (1378874568, 613864793),
]


def _minhash_buckets(sh: DataFrame) -> DataFrame:
    """(doc_id, sh) -> (band, mh, ds): pair-eligible LSH buckets with the
    size cap applied — ds is the SORTED doc_id list of each bucket.

    One groupBy(band, mh) both applies the cap (size(ds) between 2 and
    the cap — singleton buckets can produce no pair, and buckets above
    the cap are dropped exactly as before) and stages the bucket for
    _bucket_pairs. This replaces the previous window-count + self-join
    formulation: the window's sort pass disappears, and the whole
    upstream signature pipeline exists ONCE in the plan instead of once
    per join side."""
    bands = _minhash_bands_uncapped(sh)
    return (
        bands.groupBy("band", "mh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds").between(2, _LSH_BUCKET_CAP))
    )


def _bucket_pairs(buckets: DataFrame, ds: str = "ds") -> DataFrame:
    """(..., ds: sorted array) -> (a, b) for every i < j pair of each
    bucket, via two CHAINED explodes (posexplode, then explode of the
    tail slice): a k-element bucket streams its k^2/2 pairs row by row
    through codegen — the pair set is never materialized as one array
    value, so memory stays O(k) per bucket while the aggregation buffer
    upstream is the only place a whole bucket lives at once. Works for
    plain values and structs (array_sort on structs orders by the first
    field — the doc id — which is unique)."""
    ex = buckets.select(
        F.posexplode(ds).alias("_i", "a"), F.col(ds).alias("_ds")
    )
    return ex.select(
        "a",
        F.explode(
            F.slice(F.col("_ds"), F.col("_i") + 2, F.size(F.col("_ds")))
        ).alias("b"),
    )


def _minhash_bands_uncapped(sh: DataFrame) -> DataFrame:
    """The band signatures BEFORE the bucket cap — split out so the cap
    diagnostics (tools/capstress.py) can histogram raw bucket sizes with
    exactly the production signature pipeline."""
    nsig = _LSH_BANDS * _LSH_ROWS
    base = (
        F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
        % _MH_P
    )
    proj = sh.select("doc_id", base.alias("hb"))
    lane = lambda i: (
        F.lit(_MH_AB[i][0]) * F.col("hb") + F.lit(_MH_AB[i][1])
    ) % _MH_P
    agg = proj.groupBy("doc_id").agg(
        *[F.min(lane(i)).alias("m%d" % i) for i in range(nsig)]
    )
    return agg.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftleft(F.col("m%d" % (b * _LSH_ROWS)), 31)
                            + F.col("m%d" % (b * _LSH_ROWS + 1))
                        ).alias("mh"),
                    )
                    for b in range(_LSH_BANDS)
                ]
            )
        ).alias("bm"),
    ).select("doc_id", F.col("bm.band").alias("band"), F.col("bm.mh").alias("mh"))


def _minhash_pairs(sh: DataFrame) -> DataFrame:
    return (
        _bucket_pairs(_minhash_buckets(sh))
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


# shared CTE prefix: shingles -> capped b x r band signatures (kept in
# lockstep with _minhash_bands: 8 bands x 2 universal-hash lanes over one
# md5-derived base value, lanes packed into one 62-bit BIGINT, cap 50)
_BANDS_SQL = (
    """
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)  -- empty when len < 3
),
shb AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT)
           % """
    + str(_MH_P)
    + """ AS hb
  FROM sh
),
bands0 AS (
  SELECT doc_id,
"""
    + ",\n".join(
        "         MIN((%d * hb + %d) %% %d) AS m%d"
        % (_MH_AB[i][0], _MH_AB[i][1], _MH_P, i)
        for i in range(_LSH_BANDS * _LSH_ROWS)
    )
    + """
  FROM shb GROUP BY doc_id
),
bandsu AS (
"""
    + "\n  UNION ALL\n".join(
        "  SELECT doc_id, %d AS band, (m%d << 31) + m%d AS mh FROM bands0"
        % (b, b * _LSH_ROWS, b * _LSH_ROWS + 1)
        for b in range(_LSH_BANDS)
    )
    + """
),
bands AS (
  SELECT doc_id, band, mh
  FROM (SELECT doc_id, band, mh,
               COUNT(*) OVER (PARTITION BY band, mh) AS bsz
        FROM bandsu)
  WHERE bsz <= 50
)
"""
)

_MINHASH_ORACLE = (
    "WITH "
    + _BANDS_SQL
    + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
"""
)


@query("dedup_minhash", oracle=_MINHASH_ORACLE)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidates: word-3-gram shingles ->
    8 bands x 2-lane universal-hash minhash signatures (one md5 per
    shingle, lanes packed into a 62-bit long — see _MH_AB) -> bucket join
    on any matching band, with oversized buckets capped (see
    _LSH_BUCKET_CAP). Scale path for dedup: no O(n^2) pairs, the band
    join is the only shuffle, and the cap bounds the worst bucket's
    fan-out at corpus scale."""
    sh = _doc_shingles(spark, sf_dir)
    return _minhash_pairs(sh)


#: drop shingles occurring in more than this many documents before the
#: inverted-index self-join. The join is quadratic in per-shingle document
#: frequency, so one stop-shingle ("of the and") at corpus scale explodes
#: it; high-DF shingles also carry no near-dup signal (they are corpus
#: boilerplate). Jaccard is then computed over the informative-shingle
#: sets on BOTH sides of the ratio — a consistent semantic, not a biased
#: estimate of full-set Jaccard.
_SHINGLE_DF_CAP = 100


def _jaccard_filter(j):
    """(doc_a, doc_b, common, sz_a, sz_b) -> exact Jaccard, keep pairs
    >= 0.5 (floored x1000 for engine-stable comparison). The ONE
    threshold + stabilization definition shared by dedup_jaccard and the
    LSH cascade (_cascade_pairs) so they can never silently drift."""
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return j.filter(jac >= 0.5).select(
        "doc_a", "doc_b", F.floor(jac * 1000).cast("long").alias("jaccard_x1000")
    )


def _jaccard_verify(inter, sizes):
    """Attach per-doc shingle-set sizes to (doc_a, doc_b, common)
    intersection counts and apply the shared threshold filter."""
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("sz", "sz_b")
    )
    return _jaccard_filter(j)


_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)  -- empty when len < 3
),
sh AS (
  SELECT doc_id, sh
  FROM (SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh_all)
  WHERE df <= 100
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(floor(common * 1000.0 / (sa.sz + sb.sz - common)) AS BIGINT)
           AS jaccard_x1000
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.5
"""


@query("dedup_jaccard", oracle=_JACCARD_ORACLE)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard verification of near-dup candidates: exact overlap
    of distinct word-3-gram shingle sets over a shingle-inverted index
    (candidate pairs from shared shingles, never a cross join). Shingles
    with document frequency > _SHINGLE_DF_CAP are dropped first, which
    bounds the self-join's worst key at DF_CAP^2 rows."""
    sh_all = _doc_shingles(spark, sf_dir)
    # ONE groupBy(sh) both applies the DF cap (replacing a window-count
    # pass, i.e. a full sort of the inverted index) and stages each
    # shingle's posting list for pair generation; sizes and pairs both
    # read this single exchange. The k^2 pair fan-out streams through
    # the chained explode instead of a self-join's shuffle fetch.
    buckets = (
        sh_all.groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") <= _SHINGLE_DF_CAP)
    )
    sizes = (
        buckets.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    inter = (
        _bucket_pairs(buckets.filter(F.size("ds") >= 2))
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_verify(inter, sizes)


def _cascade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (doc_a, doc_b, jaccard_x1000): MinHash-LSH
    candidates -> exact n-gram Jaccard >= 0.5. Shared by dedup_cascade
    and dedup_clusters.

    (An array_intersect formulation over per-document shingle-SET
    columns was tried in round 6 and rejected on measurement: the
    planner broadcasts the corpus-side set table at test scale, and
    with sort-merge hints the two set-array shuffles still measured
    slower than this exploded-index join, whose candidate side the
    planner broadcasts.)"""
    sh = _doc_shingles(spark, sf_dir)
    cand = _minhash_pairs(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.sh") == F.col("sb.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_verify(inter, sizes)


_DEDUP_CASCADE_ORACLE = (
    "WITH "
    + _BANDS_SQL
    + """,
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       CAST(floor(common * 1000.0 / (sa.sz + sb.sz - common)) AS BIGINT)
           AS jaccard_x1000
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.5
"""
)


@query("dedup_cascade", oracle=_DEDUP_CASCADE_ORACLE)
def q_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-correct near-dup pipeline: MinHash-LSH banding generates
    candidate pairs (no O(n^2) join), then exact n-gram Jaccard verifies
    only those candidates. At 100 TB the verify stage touches a vanishing
    fraction of the pair space while recall is bounded by the band count."""
    return _cascade_pairs(spark, sf_dir)


#: round cap for the connected-components loop. With pointer doubling the
#: round count is O(log2 diameter), so 24 rounds cover components of
#: diameter ~2^24 — far beyond any real near-dup graph; hitting the cap
#: while labels still change is therefore a hard signal, not a tail case.
_CC_MAX_ROUNDS = 24

#: diagnostics of the last q_dedup_clusters run (bench surfaces these):
#: rounds executed and whether the labeling converged before the cap.
CLUSTER_STATS = {"rounds": 0, "converged": False, "build_sec": 0.0}


# connected components over the cascade pairs: the oracle computes the
# transitive closure with a recursive CTE (UNION dedups, so it
# terminates) and labels every member with the component's min doc_id —
# exactly what the label-propagation fixpoint converges to.
_DEDUP_CLUSTERS_ORACLE = (
    """
WITH RECURSIVE p AS (
  SELECT doc_a, doc_b FROM (%s) cp
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM p
  UNION ALL
  SELECT doc_b, doc_a FROM p
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
lab AS (SELECT u AS doc_id, MIN(v) AS cluster_rep FROM reach GROUP BY u),
sz AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_rep)
SELECT doc_id, cluster_rep, CAST(cluster_size AS BIGINT) AS cluster_size
FROM lab JOIN sz USING (cluster_rep)
"""
    % _DEDUP_CASCADE_ORACLE
)


@query("dedup_clusters", oracle=_DEDUP_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: connected components over the cascade's
    verified pairs, turning pairwise matches into keep/drop decisions
    (keep doc_id == cluster_rep).

    Min-label propagation with pointer doubling: each round takes the min
    of the neighbors' labels, then jumps to the label's own label
    (lbl <- lbl(lbl)), which halves chain lengths — O(log diameter)
    rounds even for path-shaped components (sliding boilerplate
    variants), vs O(diameter) for plain propagation. Each round is
    equi-joins on the component graph only; the driver sees nothing but
    the per-round change count. Per-round ``localCheckpoint`` both
    truncates the lineage (no 2^rounds plan growth) and materializes the
    labels, so the RETURNED frame reads checkpointed blocks — downstream
    actions never re-run the LSH cascade, and no caches are leaked.

    Contract note: unlike the other queries() entries, CONSTRUCTING this
    frame runs Spark jobs eagerly — iterative convergence needs per-round
    actions; there is no lazy formulation of an until-fixpoint loop. If
    the round cap is ever hit while labels still change (see
    _CC_MAX_ROUNDS), the labeling would be incomplete, so it raises
    instead of silently returning wrong cluster reps."""
    _t0 = time.time()
    pairs = _cascade_pairs(spark, sf_dir)
    # both edge directions from ONE pass over the pairs (explode of a
    # 2-struct array) — the union-of-two-selects form put the whole
    # cascade subtree in the plan twice
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
                    ),
                    F.struct(
                        F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    rounds = 0
    for _ in range(_CC_MAX_ROUNDS):
        rounds += 1
        nbr_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("lbl").alias("nlbl"))
            .withColumnRenamed("u", "node")
        )
        prop = labels.join(nbr_min, "node", "left").select(
            "node",
            # the round's INPUT label rides along so the changed-count
            # below is a filter over the checkpointed frame instead of a
            # join back against the previous checkpoint (one fewer
            # shuffle + job per round)
            F.col("lbl").alias("_old"),
            F.least(
                F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
            ).alias("lbl"),
        )
        # pointer doubling: lbl <- min(lbl, lbl(lbl)); label values are
        # always node ids of the same component, so this never crosses
        # components and the fixpoint (component-min labeling) is the same
        hop = prop.select(
            F.col("node").alias("pnode"), F.col("lbl").alias("plbl")
        )
        stepped = prop.join(hop, prop["lbl"] == hop["pnode"], "left").select(
            "node",
            "_old",
            F.least(
                F.col("lbl"), F.coalesce(F.col("plbl"), F.col("lbl"))
            ).alias("lbl"),
        )
        new_labels = stepped.select(
            "node", "lbl", (F.col("lbl") != F.col("_old")).alias("_chg")
        ).localCheckpoint()
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            converged = True
            break
    CLUSTER_STATS["rounds"] = rounds
    CLUSTER_STATS["converged"] = converged
    # eager-construction cost (cascade edges + convergence rounds); the
    # returned frame reads checkpointed labels, so bench splits this
    # build time from the read time
    CLUSTER_STATS["build_sec"] = round(time.time() - _t0, 3)
    if not converged:
        raise RuntimeError(
            "dedup_clusters: labels still changing after %d rounds — "
            "component structure is pathological; raise _CC_MAX_ROUNDS"
            % _CC_MAX_ROUNDS
        )
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labels.join(sizes, "lbl").select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_rep"),
        "cluster_size",
    )


#: SimHash width and banding: 60 fingerprint bits (15 md5 hex chars —
#: stays inside a signed 64-bit lane on both engines) split into 4 blocks
#: of 15. By pigeonhole, any pair at Hamming distance <= 3 shares at least
#: one full block, so the candidate join is a plain equi-join on
#: (block_id, block_value) — no pair enumeration — and the exact
#: bit_count(xor) verify touches candidates only.
_SIMHASH_BITS = 60
_SIMHASH_BLOCKS = 4
_SIMHASH_MAX_HAMMING = 3


_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)  -- empty when len < 3
),
hashes AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS h
  FROM sh
),
votes AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (h >> CAST(b.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashes, UNNEST(range(0, 60)) AS b(b)
  GROUP BY doc_id, b.b
),
fps AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, simhash, blk.blk,
         (simhash >> CAST(blk.blk * 15 AS INT)) & 32767 AS blk_val
  FROM fps, UNNEST(range(0, 4)) AS blk(blk)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS fp_a, b.simhash AS fp_b
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit sign-sum fingerprint over the
    document's shingle hashes, 4x15-bit block banding for candidates
    (Hamming <= 3 guarantees a shared block), exact Hamming verify.
    The fingerprint is one aggregation pass (60 conditional sums with
    map-side combine); candidates come from an equi-join on block value,
    never an all-pairs comparison."""
    sh = _doc_shingles(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
    bits = sh.select("doc_id", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias("b%d" % b)
        for b in range(_SIMHASH_BITS)
    ]
    agg = bits.groupBy("doc_id").agg(*votes)
    fp = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col("b%d" % b) > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    fps = agg.select("doc_id", fp.cast("long").alias("simhash"))
    width = _SIMHASH_BITS // _SIMHASH_BLOCKS
    mask = (1 << width) - 1
    blocks = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.lit(i) for i in range(_SIMHASH_BLOCKS)])
        ).alias("blk"),
    ).withColumn(
        "blk_val", F.expr(f"shiftright(simhash, blk * {width}) & {mask}")
    )
    # bucket-collect + chained-explode pair generation (see _bucket_pairs)
    # instead of a self-join: the fingerprint aggregation upstream exists
    # once in the plan rather than once per join side, and the block
    # sort/shuffle of the window-free join disappears. array_sort on the
    # (doc_id, simhash) structs orders by doc_id (unique), so a < b holds
    # for every emitted pair exactly as the join's a.doc_id < b.doc_id.
    buckets = (
        blocks.groupBy("blk", "blk_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ds")
        )
        .filter(F.size("ds") >= 2)
    )
    cand = (
        _bucket_pairs(buckets)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.simhash").alias("fp_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.filter(ham <= _SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


#: sign-bit LSH for embeddings: _EMB_TABLES independent hash tables, each
#: keyed by _EMB_BITS sign bits over a disjoint slice of dimensions. For
#: isotropic vectors a table key collides with probability ~2^-_EMB_BITS,
#: so the candidate space is ~N^2 * _EMB_TABLES / 2^_EMB_BITS — at 8 bits
#: x 4 tables, a 64x reduction vs all-pairs; recall comes from the OR over
#: tables (a true near-dup agrees on most sign bits, so the chance all 4
#: disjoint 8-bit slices break is small). Oversized buckets (degenerate
#: regions) are capped like the minhash path.
_EMB_TABLES = 4
_EMB_BITS = 8
_EMB_BUCKET_CAP = 200


def _emb_dot(a, b):
    """Ordered-fold dot product of two array<double> column expressions —
    the fold order is load-bearing for bit-exact oracle parity."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _emb_norm(c):
    """sqrt of the ordered sum of squares — the ONE norm expression shared
    by every cosine form below, so a hoisted/staged norm is always the
    bit-identical double the inline form would have produced."""
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _emb_lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, e) -> (vec_id, tab, bucket): sign-bit keys per table,
    bucket-size cap applied on the (tab, bucket) partitioning the
    candidate join reuses."""
    bucketed = _emb_lsh_buckets_uncapped(emb)
    w = Window.partitionBy("tab", "bucket")
    return (
        bucketed.withColumn("bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("bsz") <= _EMB_BUCKET_CAP)
        .drop("bsz")
    )


def _emb_lsh_buckets_uncapped(emb: DataFrame) -> DataFrame:
    """Sign-bit bucket keys BEFORE the bucket cap (see
    _emb_lsh_buckets; split out for the cap diagnostics)."""
    tabs = emb.select(
        "vec_id",
        F.explode(F.array(*[F.lit(t) for t in range(_EMB_TABLES)])).alias("tab"),
        "e",
    )
    key = F.lit(0)
    for d in range(_EMB_BITS):
        key = key + F.when(
            F.element_at(F.col("e"), F.col("tab") * _EMB_BITS + d + 1) > 0,
            F.lit(2**d),
        ).otherwise(F.lit(0))
    return tabs.select("vec_id", "tab", key.cast("int").alias("bucket"))


def _emb_bucket_sql_key() -> str:
    """SQL expression for the per-table sign-bit key (dims are 1-indexed
    in DuckDB; tab comes from an UNNEST alias)."""
    terms = [
        f"(CASE WHEN e[tab.tab * 8 + {d + 1}] > 0 THEN {2 ** d} ELSE 0 END)"
        for d in range(_EMB_BITS)
    ]
    return " + ".join(terms)


_EMB_BUCKETS_SQL = f"""
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
bucketed0 AS (
  SELECT vec_id, CAST(tab.tab AS INT) AS tab,
         CAST({_emb_bucket_sql_key()} AS INT) AS bucket
  FROM e, UNNEST(range(0, 4)) AS tab(tab)
),
bucketed AS (
  SELECT vec_id, tab, bucket
  FROM (SELECT vec_id, tab, bucket,
               COUNT(*) OVER (PARTITION BY tab, bucket) AS bsz
        FROM bucketed0)
  WHERE bsz <= 200
)
"""

_EMB_NEARDUP_ORACLE = (
    "WITH "
    + _EMB_BUCKETS_SQL
    + """,
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bucketed a JOIN bucketed b
    ON a.tab = b.tab AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.vec_a, c.vec_b,
         list_dot_product(ea.e, eb.e)
           / (sqrt(list_dot_product(ea.e, ea.e))
              * sqrt(list_dot_product(eb.e, eb.e))) AS cos
  FROM cand c JOIN e ea ON ea.vec_id = c.vec_a
              JOIN e eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, CAST(floor(cos * 1000) AS BIGINT) AS cos_x1000
FROM pairs WHERE cos >= 0.35
"""
)


@query("embedding_neardup", oracle=_EMB_NEARDUP_ORACLE)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates, LSH-bucket cascade: 4 tables of
    8 sign-bit keys over disjoint dimension slices restrict the candidate
    space (see _EMB_TABLES/_EMB_BITS), ids-only pair dedup across tables,
    then exact cosine verifies candidates (threshold 0.35 — the synthetic
    embeddings are near-orthogonal, so the tail above 0.35 is the
    "near-duplicate" set). Every join is a plain equi-join; the verify
    stage re-fetches vectors by id so the wide arrays never ride through
    the bucket shuffle."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    )
    bucketed = _emb_lsh_buckets(emb)
    cand = (
        bucketed.alias("a")
        .join(
            bucketed.alias("b"),
            (F.col("a.tab") == F.col("b.tab"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # per-vector norms computed once at the re-fetch (same _emb_norm
    # expression as the inline cosine -> bit-identical cos values),
    # instead of re-folding both norms per candidate pair
    embn = emb.select("vec_id", "e", _emb_norm(F.col("e")).alias("nrm"))
    pairs = (
        cand.join(
            embn.select(
                F.col("vec_id").alias("vec_a"),
                F.col("e").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "vec_a",
        )
        .join(
            embn.select(
                F.col("vec_id").alias("vec_b"),
                F.col("e").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            (_emb_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
            .alias("cos"),
        )
    )
    return pairs.filter(F.col("cos") >= 0.35).select(
        "vec_a", "vec_b", F.floor(F.col("cos") * 1000).cast("long").alias("cos_x1000")
    )
