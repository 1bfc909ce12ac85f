"""Driver-facing query registry: Spark implementation + DuckDB oracle SQL.

Every entry here is one operator/capability from SURVEY.md §2 (or a
training-data-pipeline addition), expressed twice with IDENTICAL
semantics:

- a PySpark callable ``(spark, sf_dir) -> DataFrame``;
- an ANSI-SQL string DuckDB runs on the same parquet tables.

The driver hashes values order-insensitively after sorting columns by
name, so both sides alias every column identically and round every
float at the same decimal place. Iterative algorithms run the engine's
own superstep loop capped at k supersteps, against k chained CTEs of
dense rounds in SQL, so the comparison never depends on convergence
behavior; convergence-to-fixed-point is covered by the pytest oracle
suite instead. The two agree exactly: a frontier loop scatters only
the vertices the last superstep changed, and an unchanged vertex has
already delivered its value, so k frontier supersteps reach the state
of k dense rounds.

The link graph used by the graph queries is the part co-occurrence
graph: parts appearing in the same order are connected (both
directions, no self-loops) — a real "link graph derived from a source
table" in the spirit of the repo-import derivation, expressible in
pure SQL so DuckDB can oracle it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# ---------------------------------------------------------------------------
# shared inputs
# ---------------------------------------------------------------------------


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


EDGES_CTE = """
edges AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
         ((a.l_partkey * 31 + b.l_partkey) % 90 + 10) / 10.0 AS weight
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
)
""".strip()


def cooccur_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-occurrence link graph (symmetric, no self-loops).

    The SURVEY §2.1 S1-style 'edge derivation from a source table'
    exercised on the driver's fixtures. Deterministic weight per
    FIXTURES.md §2 replaces FOG's rand-in-[0,10) conversion weights.

    Shape: ONE groupBy(order) + in-row pair explosion instead of the
    order-keyed self-join (which scans and shuffles the table twice,
    then sorts both sides) — measured 2.3x at sf0.1. The per-group
    buffer is O(items per order), bounded by the source's order size;
    the pair output is the same O(Σ g²) multiset either way (identical
    rows after DISTINCT), and a hot order concentrates its g² pairs on
    one task under both shapes.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    grouped = li.groupBy("l_orderkey").agg(F.collect_list("l_partkey").alias("ps"))
    return (
        grouped.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            (((F.col("src") * 31 + F.col("dst")) % 90 + 10) / 10.0).alias("weight"),
        )
        .distinct()
    )


TOKENS_CTE = """
toks AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents
)
""".strip()


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)).alias("t"),
        )
    )


# ---------------------------------------------------------------------------
# graph queries (SURVEY §2 operators)
# ---------------------------------------------------------------------------


def q_cooccur_edges(spark, sf_dir):
    return cooccur_edges(spark, sf_dir)


SQL_COOCCUR_EDGES = f"WITH {EDGES_CTE} SELECT src, dst, weight FROM edges"


def q_out_degrees(spark, sf_dir):
    """Degree computation = edges.groupBy(src).count()
    (replaces index_vert_array::num_edges, SURVEY §2.4 note)."""
    return cooccur_edges(spark, sf_dir).groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )


SQL_OUT_DEGREES = f"WITH {EDGES_CTE} SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src"


def q_degree_histogram(spark, sf_dir):
    return (
        q_out_degrees(spark, sf_dir)
        .groupBy("outdeg")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


SQL_DEGREE_HISTOGRAM = (
    f"WITH {EDGES_CTE}, d AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src) "
    "SELECT outdeg, count(*) AS n_vertices FROM d GROUP BY outdeg"
)

PR_ROUNDS = 3


def q_pagerank_fog_k3(spark, sf_dir):
    """FOG-mode accumulating PageRank, 3 supersteps (SURVEY §2.8)."""
    from fog_spark.algorithms.pagerank import pagerank_fog

    edges = cooccur_edges(spark, sf_dir).persist()
    ranks = pagerank_fog(edges, niters=PR_ROUNDS)
    edges.unpersist()
    return ranks.select("id", F.round("rank", 5).alias("rank_r"))


def _sql_pagerank(k: int) -> str:
    ctes = [
        EDGES_CTE,
        "deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT id, outdeg, 1.0 AS rank FROM deg)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT r.id, r.outdeg, r.rank + coalesce(m.s, 0) AS rank "
            f"FROM r{i-1} r LEFT JOIN (SELECT e.dst, sum(0.85 * r.rank / r.outdeg + 0.15) AS s "
            f"FROM edges e JOIN r{i-1} r ON e.src = r.id GROUP BY e.dst) m ON r.id = m.dst)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(rank, 5) AS rank_r FROM r{k}"


CC_ROUNDS = 12


def q_cc_hashmin(spark, sf_dir):
    """Hash-min connected components, 12 supersteps (converged at this
    scale — tests assert the fixed point; the SQL mirror runs the same
    12 rounds so the comparison is convergence-independent)."""
    from fog_spark.algorithms.cc import connected_components

    edges = cooccur_edges(spark, sf_dir).select("src", "dst").persist()
    comps = connected_components(edges, max_iters=CC_ROUNDS)
    edges.unpersist()
    return comps


def _sql_cc(k: int) -> str:
    ctes = [EDGES_CTE, "c0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS comp FROM edges)"]
    for i in range(1, k + 1):
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT c.id, least(c.comp, coalesce(m.mc, c.comp)) AS comp "
            f"FROM c{i-1} c LEFT JOIN (SELECT e.dst, min(c.comp) AS mc "
            f"FROM edges e JOIN c{i-1} c ON e.src = c.id GROUP BY e.dst) m ON c.id = m.dst)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, comp AS component FROM c{k}"


LPA_ROUNDS = 2


def q_lpa_k2(spark, sf_dir):
    """Synchronous label propagation, 2 supersteps; mode gather with
    smallest-label tie-break (SURVEY §2.8 LPA semantics)."""
    from fog_spark.algorithms.lpa import label_propagation

    edges = cooccur_edges(spark, sf_dir).select("src", "dst").persist()
    labels = label_propagation(edges, max_iters=LPA_ROUNDS)
    edges.unpersist()
    return labels


def _lpa_ctes(k: int) -> list[str]:
    """The LPA round CTEs (labels in l{k}) — shared by the lpa_k2 and
    modularity oracles."""
    ctes = [EDGES_CTE, "l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM edges)"]
    for i in range(1, k + 1):
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT v.id, coalesce(b.nl, v.label) AS label FROM l{i-1} v LEFT JOIN ("
            f"SELECT dst, label AS nl FROM ("
            f"SELECT e.dst, l.label, count(*) AS cnt, "
            f"row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, l.label ASC) AS rn "
            f"FROM edges e JOIN l{i-1} l ON e.src = l.id GROUP BY e.dst, l.label) t "
            f"WHERE rn = 1) b ON v.id = b.dst)"
        )
    return ctes


def _sql_lpa(k: int) -> str:
    return "WITH " + ",\n".join(_lpa_ctes(k)) + f"\nSELECT id, label FROM l{k}"


def q_triangle_total(spark, sf_dir):
    """Exact triangle count (SURVEY §2.3) — algorithms/triangles.
    triangle_total, as a one-row frame. Orienting each edge from the
    lower-(degree, id) endpoint bounds the wedge stream by ~sqrt(m) per
    vertex instead of max-degree, so no single task owns a hub's O(deg²)
    wedges on a power-law graph. The oracle SQL is orientation-agnostic
    (identical triangle set either way).
    """
    from fog_spark.algorithms.triangles import triangle_total

    n = triangle_total(cooccur_edges(spark, sf_dir))
    return spark.createDataFrame([(n,)], "n_triangles long")


SQL_TRIANGLE_TOTAL = (
    f"WITH {EDGES_CTE}, und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges) "
    "SELECT count(*) AS n_triangles FROM und e1 "
    "JOIN und e2 ON e1.b = e2.a JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b"
)


def q_triangles_per_vertex(spark, sf_dir):
    """Per-vertex triangle membership — delegates to the degree-oriented
    library implementation (algorithms/triangles.triangle_counts); the
    un-oriented wedge join this replaced melts one task on hub vertices."""
    from fog_spark.algorithms.triangles import triangle_counts

    return triangle_counts(cooccur_edges(spark, sf_dir)).select("id", "tri_count")


SQL_TRIANGLES_PER_VERTEX = f"""
WITH {EDGES_CTE},
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1
        JOIN und e2 ON e1.b = e2.a JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
member AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
verts AS (SELECT DISTINCT a AS id FROM und UNION SELECT DISTINCT b FROM und)
SELECT v.id, coalesce(m.c, 0) AS tri_count
FROM verts v LEFT JOIN (SELECT id, count(*) AS c FROM member GROUP BY id) m ON v.id = m.id
"""

def q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient c(v) = 2*tri(v) / (deg(v)*(deg(v)-1))
    — the classic link-graph cohesion metric, composed from the
    degree-oriented triangle counts and the dedup'd undirected degree.
    Integer numerator/denominator, ONE double division — bit-identical
    to the SQL oracle."""
    from fog_spark.algorithms.triangles import triangle_counts
    from fog_spark.engine.superstep import symmetrize

    edges = cooccur_edges(spark, sf_dir)
    tri = triangle_counts(edges)
    deg = (
        symmetrize(edges).distinct()
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    j = tri.join(deg, "id", "left").select(
        "id",
        F.coalesce("deg", F.lit(0)).alias("deg"),
        F.col("tri_count"),
    )
    coeff = F.when(
        F.col("deg") >= 2, (2 * F.col("tri_count")) / (F.col("deg") * (F.col("deg") - 1))
    ).otherwise(F.lit(0.0))
    return j.select(
        "id",
        F.col("deg").cast("long").alias("degree"),
        F.col("tri_count").cast("long").alias("tri_count"),
        F.round(coeff, 6).alias("coeff_r"),
    )


SQL_CLUSTERING_COEFF = f"""
WITH {EDGES_CTE},
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1
        JOIN und e2 ON e1.b = e2.a JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
member AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
verts AS (SELECT DISTINCT a AS id FROM und UNION SELECT DISTINCT b FROM und),
deg AS (SELECT id, count(*) AS d FROM (
          SELECT a AS id FROM und WHERE a <> b
          UNION ALL SELECT b FROM und WHERE a <> b) GROUP BY id)
SELECT v.id,
       coalesce(d.d, 0)::BIGINT AS degree,
       coalesce(m.c, 0)::BIGINT AS tri_count,
       round(CASE WHEN coalesce(d.d, 0) >= 2
                  THEN (2 * coalesce(m.c, 0)) / (d.d * (d.d - 1))
                  ELSE 0.0 END, 6) AS coeff_r
FROM verts v
LEFT JOIN (SELECT id, count(*) AS c FROM member GROUP BY id) m ON v.id = m.id
LEFT JOIN deg d ON v.id = d.id
"""


BFS_ROUNDS = 4
BFS_SENTINEL = 4294967295  # application/bfs.hpp:48


def q_bfs_k4(spark, sf_dir):
    """BFS from the min vertex id, 4 supersteps, u32 sentinel."""
    from fog_spark.algorithms.bfs import bfs_levels

    edges = cooccur_edges(spark, sf_dir).select("src", "dst").persist()
    root = edges.agg(F.min("src")).collect()[0][0]
    levels = bfs_levels(edges, root=root, max_iters=BFS_ROUNDS)
    edges.unpersist()
    return levels


def _sql_bfs(k: int) -> str:
    s = BFS_SENTINEL
    ctes = [
        EDGES_CTE,
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        f"b0 AS MATERIALIZED (SELECT id, CASE WHEN id = (SELECT min(id) FROM verts) THEN 0 ELSE {s} END AS level FROM verts)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"b{i} AS MATERIALIZED (SELECT v.id, least(v.level, coalesce(m.cand, v.level)) AS level "
            f"FROM b{i-1} v LEFT JOIN (SELECT e.dst, min(b.level + 1) AS cand "
            f"FROM edges e JOIN b{i-1} b ON e.src = b.id WHERE b.level < {s} GROUP BY e.dst) m ON v.id = m.dst)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, level FROM b{k}"


SSSP_ROUNDS = 4
SSSP_SENTINEL = 1.0e18


def q_sssp_k4(spark, sf_dir):
    """Bellman-Ford distances from min vertex, 4 supersteps, weighted.

    The engine's ε-guard rejects only float noise here: weights are
    multiples of 0.1, so any real improvement exceeds EPS = 1e-3, and
    the rounding removes the noise. Unreached (inf) reads as the
    oracle's sentinel."""
    from fog_spark.algorithms.sssp import sssp

    edges = cooccur_edges(spark, sf_dir).persist()
    root = edges.agg(F.min("src")).collect()[0][0]
    out = sssp(edges, source=root, max_iters=SSSP_ROUNDS)
    edges.unpersist()
    dist = F.when(F.col("dist") == float("inf"), F.lit(SSSP_SENTINEL)).otherwise(F.col("dist"))
    return out.select("id", F.round(dist, 4).alias("dist_r"))


def _sql_sssp(k: int) -> str:
    s = SSSP_SENTINEL
    ctes = [
        EDGES_CTE,
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        f"s0 AS MATERIALIZED (SELECT id, CASE WHEN id = (SELECT min(id) FROM verts) THEN 0.0 ELSE {s:e} END AS dist FROM verts)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT v.id, least(v.dist, coalesce(m.cand, v.dist)) AS dist "
            f"FROM s{i-1} v LEFT JOIN (SELECT e.dst, min(s.dist + e.weight) AS cand "
            f"FROM edges e JOIN s{i-1} s ON e.src = s.id WHERE s.dist < 1e17 GROUP BY e.dst) m ON v.id = m.dst)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(dist, 4) AS dist_r FROM s{k}"


def q_spmv(spark, sf_dir):
    """One scatter-gather: y(v) = Σ_{u→v} x(u)·w(u,v), x ≡ 1 (SURVEY §2.8 SpMV)."""
    edges = cooccur_edges(spark, sf_dir)
    return (
        edges.groupBy(F.col("dst").alias("id"))
        .agg(F.round(F.sum("weight"), 5).alias("y_r"))
    )


SQL_SPMV = f"WITH {EDGES_CTE} SELECT dst AS id, round(sum(weight), 5) AS y_r FROM edges GROUP BY dst"


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings / events)
# ---------------------------------------------------------------------------


def q_doc_token_stats(spark, sf_dir):
    toks = doc_tokens(spark, sf_dir)
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.countDistinct("t").alias("n_unique")
    )


SQL_DOC_TOKEN_STATS = (
    f"WITH {TOKENS_CTE} SELECT doc_id, count(*) AS n_tokens, count(DISTINCT t) AS n_unique "
    "FROM toks GROUP BY doc_id"
)

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def q_doc_quality(spark, sf_dir):
    """Quality scoring: token stats + stopword ratio (text-analysis op)."""
    toks = doc_tokens(spark, sf_dir)
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.length("t")), 4).alias("avg_token_len"),
        F.round(
            F.sum(F.when(F.col("t").isin(*STOPWORDS), 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("stop_ratio"),
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
SQL_DOC_QUALITY = f"""
WITH {TOKENS_CTE}
SELECT doc_id, count(*) AS n_tokens,
       round(avg(length(t)), 4) AS avg_token_len,
       round(sum(CASE WHEN t IN ({_STOP_SQL}) THEN 1 ELSE 0 END) / count(*), 6) AS stop_ratio
FROM toks GROUP BY doc_id
"""


def q_lang_id(spark, sf_dir):
    """Stopword-density language heuristic (language-ID op; the synthetic
    corpus shares one vocabulary, so this detects 'englishness')."""
    return q_doc_quality(spark, sf_dir).select(
        "doc_id", F.when(F.col("stop_ratio") >= 0.05, F.lit("en")).otherwise(F.lit("unk")).alias("pred_lang")
    )


SQL_LANG_ID = f"""
WITH {TOKENS_CTE},
q AS (SELECT doc_id, sum(CASE WHEN t IN ({_STOP_SQL}) THEN 1 ELSE 0 END) / count(*) AS r FROM toks GROUP BY doc_id)
SELECT doc_id, CASE WHEN r >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang FROM q
"""


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content (dedup op #1)."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("text_md5"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_id"))
    )


SQL_DEDUP_EXACT = (
    "SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS canonical_id "
    "FROM documents GROUP BY md5(text)"
)


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return load(spark, sf_dir, "documents").select("doc_id", F.md5(norm).alias("fp"))


SQL_DOC_FINGERPRINT = (
    "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM documents"
)

N_MINHASH = 4


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures over token sets: mh_i = min(md5(i || ':' || token)).

    md5-hex string min is portable across engines — no engine-specific
    integer hash anywhere.
    """
    toks = doc_tokens(spark, sf_dir).distinct()
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("t")))).alias(f"mh{i}") for i in range(N_MINHASH)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


SQL_MINHASH_SIGNATURES = f"""
WITH {TOKENS_CTE}, d AS (SELECT DISTINCT doc_id, t FROM toks)
SELECT doc_id, {", ".join(f"min(md5('{i}:' || t)) AS mh{i}" for i in range(N_MINHASH))}
FROM d GROUP BY doc_id
"""


def q_lsh_buckets(spark, sf_dir):
    """LSH banding over minhash signatures: 2 bands × 2 rows; bucket sizes.

    (At scale, near-dup candidates come from joining within buckets —
    bucket-size output keeps the oracle comparison O(buckets).)
    """
    sig = q_minhash_signatures(spark, sf_dir)
    b0 = sig.select(F.lit(0).alias("band"), F.md5(F.concat("mh0", "mh1")).alias("bucket"))
    b1 = sig.select(F.lit(1).alias("band"), F.md5(F.concat("mh2", "mh3")).alias("bucket"))
    return b0.unionByName(b1).groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n_docs"))


SQL_LSH_BUCKETS = f"""
WITH {TOKENS_CTE}, d AS (SELECT DISTINCT doc_id, t FROM toks),
sig AS (SELECT doc_id, {", ".join(f"min(md5('{i}:' || t)) AS mh{i}" for i in range(N_MINHASH))} FROM d GROUP BY doc_id),
bands AS (SELECT 0 AS band, md5(mh0 || mh1) AS bucket FROM sig
          UNION ALL SELECT 1, md5(mh2 || mh3) FROM sig)
SELECT band, bucket, count(*) AS n_docs FROM bands GROUP BY band, bucket
"""

JACCARD_THRESHOLD = 0.8


def q_token_jaccard_pairs(spark, sf_dir):
    """N-gram(1) Jaccard near-dup pairs ≥ 0.8 via token-join (dedup op)."""
    toks = doc_tokens(spark, sf_dir).distinct()
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = toks.select(F.col("doc_id").alias("a"), "t")
    tb = toks.select(F.col("doc_id").alias("b"), "t")
    common = (
        ta.join(tb, "t")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    return (
        common.join(sa, "a")
        .join(sb, "b")
        .withColumn("j", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .where(F.col("j") >= JACCARD_THRESHOLD)
        .select(F.col("a").alias("a_id"), F.col("b").alias("b_id"), F.round("j", 6).alias("jaccard_r"))
    )


SQL_TOKEN_JACCARD_PAIRS = f"""
WITH {TOKENS_CTE}, d AS (SELECT DISTINCT doc_id, t FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
common AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
           FROM d a JOIN d b ON a.t = b.t AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
SELECT common.a AS a_id, common.b AS b_id,
       round(c / (sa.n + sb.n - c), 6) AS jaccard_r
FROM common JOIN sizes sa ON common.a = sa.doc_id JOIN sizes sb ON common.b = sb.doc_id
WHERE c / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
"""


def _hex8_sql(expr: str) -> str:
    """First 8 md5 hex chars folded to an integer — DuckDB twin of
    Spark's conv(substring(md5(..),1,8),16,10) in algorithms/walks."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {i+1}, 1)) - 1) * {16**(7-i)}"
        for i in range(8)
    ) + ")"


def q_random_walks_k4(spark, sf_dir):
    """Deterministic random-walk corpus (algorithms/walks, the
    DeepWalk/node2vec training-data generator): one 4-step walk per
    vertex, neighbor picked by md5(walk_id-step-seed) mod outdeg over
    the dst-ordered indexed adjacency — every hop SQL-replayable."""
    from fog_spark.algorithms.walks import random_walks

    out = random_walks(cooccur_edges(spark, sf_dir), length=4, seed=42)
    return out.select(
        "walk_id", F.col("step").cast("long").alias("step"), "vertex"
    )


def _sql_random_walks(k: int, seed: int = 42) -> str:
    steps, prev = [], "W0"
    for t in range(1, k + 1):
        h = _hex8_sql(f"md5(w.walk_id::VARCHAR || '-{t}-{seed}')")
        steps.append(
            f"W{t} AS (SELECT w.walk_id, {t}::BIGINT AS step, a.dst AS vertex\n"
            f"  FROM {prev} w JOIN adj a ON a.src = w.vertex AND a.idx = ({h} % a.outdeg))"
        )
        prev = f"W{t}"
    union = " UNION ALL ".join(f"SELECT * FROM W{t}" for t in range(k + 1))
    return f"""
WITH {EDGES_CTE},
ded AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
adj AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
               count(*) OVER (PARTITION BY src) AS outdeg FROM ded),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
W0 AS (SELECT id AS walk_id, 0::BIGINT AS step, id AS vertex FROM verts),
{','.join(steps)}
{union}
"""


def q_tfidf_top5(spark, sf_dir):
    """Per-document characteristic terms by smoothed tf-idf (text
    analysis op, datapipe/text.tfidf_top_terms). Ranking is by actual
    tf*idf rounded to 6 decimals (cross-engine ln()-ulp-stable), with
    the integer tuple (tf desc, df asc, term asc) as deterministic
    tie-break."""
    from fog_spark.datapipe.text import tfidf_top_terms

    out = tfidf_top_terms(load(spark, sf_dir, "documents"), k=5)
    return out.select(
        F.col("id").alias("doc_id"),
        "term",
        "tf",
        "df",
        F.round("tfidf", 6).alias("tfidf_r"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_TFIDF_TOP5 = f"""
WITH {TOKENS_CTE},
tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t),
df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
s AS (SELECT tf.doc_id, tf.t, tf.tf, df.df,
             round(tf.tf * (ln((n.nd + 1)::DOUBLE / (df.df + 1)) + 1), 6) AS tfidf_r
      FROM tf JOIN df USING (t), n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_r DESC, tf DESC, df ASC, t ASC) AS rank
      FROM s)
SELECT doc_id, t AS term, tf, df, tfidf_r, rank::BIGINT AS rank
FROM r WHERE rank <= 5
"""


def q_kcore110_r2(spark, sf_dir):
    """k-core peel (north-rule link-graph addition, algorithms/kcore),
    k=110, exactly 2 rounds — convergence-independent like the other
    fixed-round graph queries; the full fixed point is pytest-oracled
    (test_k_core_matches_oracle). k=110 makes both rounds bite on this
    graph: 2000 -> 1203 -> 77 survivors at sf0.01."""
    from fog_spark.algorithms.kcore import k_core

    edges = cooccur_edges(spark, sf_dir)
    out = k_core(edges, k=110, rounds=2)
    return out.select("id", F.col("degree").cast("long").alias("degree"))


SQL_KCORE110_R2 = f"""
WITH {EDGES_CTE},
sym AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM edges WHERE src <> dst
        UNION ALL SELECT dst, src FROM edges WHERE src <> dst)),
d0 AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
a1 AS (SELECT id FROM d0 WHERE deg >= 110),
d1 AS (SELECT s.src AS id, count(*) AS deg FROM sym s
       JOIN a1 x ON s.src = x.id JOIN a1 y ON s.dst = y.id GROUP BY s.src)
SELECT id, deg::BIGINT AS degree FROM d1 WHERE deg >= 110
"""


def q_events_asof_join(spark, sf_dir):
    """Point-in-time join (custom operator Spark lacks, built from
    union+window — datapipe/temporal.asof_join): each purchase event
    picks the user's most recent click at or before it. Oracled by
    DuckDB's NATIVE ASOF LEFT JOIN — an independent implementation of
    the same semantics. Right side pre-aggregated to unique (user, ts)
    so ties are deterministic on both sides."""
    from fog_spark.datapipe.temporal import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    j = asof_join(purchases, clicks, on="user_id")
    return j.select(
        "event_id",
        F.round("value", 4).alias("purchase_value_r"),
        F.unix_timestamp("ts_r").alias("click_ts_e"),
        F.round("click_value_r", 4).alias("click_value_r"),
    )


SQL_EVENTS_ASOF_JOIN = """
WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, max(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
SELECT p.event_id,
       round(p.value, 4) AS purchase_value_r,
       floor(epoch(c.ts))::BIGINT AS click_ts_e,
       round(c.click_value, 4) AS click_value_r
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the verified
    token-Jaccard pair graph (datapipe/dedup.near_dup_clusters) — the
    canonical-selection step of a dedup pipeline (a-b and b-c dup =>
    keep one of {a,b,c}), composing the dedup family with the same
    frontier-scheduled hash-min CC engine the graph queries use."""
    from fog_spark.datapipe.dedup import near_dup_clusters

    docs = load(spark, sf_dir, "documents")
    pairs = q_token_jaccard_pairs(spark, sf_dir).select("a_id", "b_id")
    out = near_dup_clusters(docs, pairs)
    return out.select(
        "doc_id", "cluster_id", F.col("is_canonical").cast("int").alias("canon")
    )


# CC over the pair graph in SQL: same recursive min-label with the
# relay-node pruning as SQL_CC_CONVERGED; AS MATERIALIZED stops DuckDB
# from inlining (= recomputing) the shared pair CTEs per reference.
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {TOKENS_CTE}, d AS MATERIALIZED (SELECT DISTINCT doc_id, t FROM toks),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
common AS MATERIALIZED (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
  FROM d a JOIN d b ON a.t = b.t AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
pairs AS MATERIALIZED (
  SELECT common.a, common.b
  FROM common JOIN sizes sa ON common.a = sa.doc_id JOIN sizes sb ON common.b = sb.doc_id
  WHERE c / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}),
sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
r AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT s.dst AS id, r.comp FROM r JOIN sym s ON s.src = r.id
  WHERE r.comp < s.dst
),
cc AS (SELECT id, min(comp) AS cluster_id FROM r GROUP BY id)
SELECT id AS doc_id, cluster_id, (id = cluster_id)::INT AS canon FROM cc
"""


def q_embedding_knn_top1(spark, sf_dir):
    """Brute-force cosine nearest neighbor (similarity-search baseline).

    Double-cast sequential dot product matches DuckDB's list_dot_product
    fold order, so cosines agree bitwise before rounding.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = e.select("vec_id", "embedding", F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"))
    a = n.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ae"), F.col("nrm").alias("an"))
    b = n.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("be"), F.col("nrm").alias("bn"))
    pairs = a.crossJoin(b).where(F.col("a_id") != F.col("b_id"))
    cos = pairs.select(
        "a_id", "b_id", (dot(F.col("ae"), F.col("be")) / (F.col("an") * F.col("bn"))).alias("cos")
    )
    best = cos.groupBy("a_id").agg(
        F.min(F.struct((-F.col("cos")).alias("nc"), F.col("b_id").alias("bb"))).alias("m")
    )
    return best.select(
        F.col("a_id").alias("vec_id"),
        F.col("m.bb").alias("nn_id"),
        F.round(-F.col("m.nc"), 6).alias("cos_r"),
    )


SQL_EMBEDDING_KNN_TOP1 = """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings),
p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
r AS (SELECT a_id, b_id, cos,
             row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS rn
      FROM p)
SELECT a_id AS vec_id, b_id AS nn_id, round(cos, 6) AS cos_r FROM r WHERE rn = 1
"""


def q_ivf_knn(spark, sf_dir):
    """IVF ANN made driver-visible (the second declared 100 TB
    similarity path, datapipe/similarity.ivf_topk). Run at FULL probe
    (nprobe == n_centroids), where inverted-file search is exact by
    construction (tests/test_datapipe.py::test_ivf_full_probe_is_exact),
    so the brute-force kNN oracle applies verbatim while the query still
    exercises the real scale plumbing: Lloyd-trained centroids via
    mapInPandas partials, one-list-per-vector indexing, bucket-local
    cid joins, per-query probe explode."""
    from fog_spark.datapipe.similarity import ivf_topk

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    top = ivf_topk(e, k=1, n_centroids=8, nprobe=8, rounds=2)
    return top.select(
        F.col("query_id").alias("vec_id"),
        "nn_id",
        F.round("cos", 6).alias("cos_r"),
    )


SQL_IVF_KNN = SQL_EMBEDDING_KNN_TOP1  # full probe == exact kNN


def q_events_rollup(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value_r"))
    )


SQL_EVENTS_ROLLUP = (
    "SELECT user_id, event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value_r "
    "FROM events GROUP BY user_id, event_type"
)

SESSION_GAP_S = 1800


def q_events_sessions(spark, sf_dir):
    """Sessionization: count 30-min-gap sessions per user (window op)."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", F.unix_timestamp("ts").alias("e"))
    w = Window.partitionBy("user_id").orderBy("e", "event_id")
    x = ev.withColumn("pe", F.lag("e").over(w))
    return x.groupBy("user_id").agg(
        (F.sum(F.when(F.col("pe").isNull() | (F.col("e") - F.col("pe") > SESSION_GAP_S), 1).otherwise(0)))
        .cast("long")
        .alias("n_sessions")
    )


SQL_EVENTS_SESSIONS = f"""
WITH x AS (SELECT user_id, epoch(ts)::BIGINT AS e,
                  lag(epoch(ts)::BIGINT) OVER (PARTITION BY user_id ORDER BY epoch(ts)::BIGINT, event_id) AS pe
           FROM events)
SELECT user_id,
       sum(CASE WHEN pe IS NULL OR e - pe > {SESSION_GAP_S} THEN 1 ELSE 0 END)::BIGINT AS n_sessions
FROM x GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cooccur_edges": q_cooccur_edges,
    "out_degrees": q_out_degrees,
    "degree_histogram": q_degree_histogram,
    "pagerank_fog_k3": q_pagerank_fog_k3,
    "cc_hashmin": q_cc_hashmin,
    "lpa_k2": q_lpa_k2,
    "triangle_total": q_triangle_total,
    "triangles_per_vertex": q_triangles_per_vertex,
    "bfs_k4": q_bfs_k4,
    "sssp_k4": q_sssp_k4,
    "spmv": q_spmv,
    "doc_token_stats": q_doc_token_stats,
    "doc_quality": q_doc_quality,
    "lang_id": q_lang_id,
    "dedup_exact": q_dedup_exact,
    "doc_fingerprint": q_doc_fingerprint,
    "minhash_signatures": q_minhash_signatures,
    "lsh_buckets": q_lsh_buckets,
    "token_jaccard_pairs": q_token_jaccard_pairs,
    "embedding_knn_top1": q_embedding_knn_top1,
    "events_rollup": q_events_rollup,
    "events_sessions": q_events_sessions,
}

ORACLES: dict[str, str] = {
    "cooccur_edges": SQL_COOCCUR_EDGES,
    "out_degrees": SQL_OUT_DEGREES,
    "degree_histogram": SQL_DEGREE_HISTOGRAM,
    "pagerank_fog_k3": _sql_pagerank(PR_ROUNDS),
    "cc_hashmin": _sql_cc(CC_ROUNDS),
    "lpa_k2": _sql_lpa(LPA_ROUNDS),
    "triangle_total": SQL_TRIANGLE_TOTAL,
    "triangles_per_vertex": SQL_TRIANGLES_PER_VERTEX,
    "bfs_k4": _sql_bfs(BFS_ROUNDS),
    "sssp_k4": _sql_sssp(SSSP_ROUNDS),
    "spmv": SQL_SPMV,
    "doc_token_stats": SQL_DOC_TOKEN_STATS,
    "doc_quality": SQL_DOC_QUALITY,
    "lang_id": SQL_LANG_ID,
    "dedup_exact": SQL_DEDUP_EXACT,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "lsh_buckets": SQL_LSH_BUCKETS,
    "token_jaccard_pairs": SQL_TOKEN_JACCARD_PAIRS,
    "embedding_knn_top1": SQL_EMBEDDING_KNN_TOP1,
    "events_rollup": SQL_EVENTS_ROLLUP,
    "events_sessions": SQL_EVENTS_SESSIONS,
}


# ---------------------------------------------------------------------------
# round-1 additions: finalize/top-k, .desc metadata, simhash, n-grams, windows
# ---------------------------------------------------------------------------


def q_pagerank_top100(spark, sf_dir):
    """The reference's finalize print: first 100 vertices by id with their
    FOG-mode rank (application/pagerank.hpp:121-128; O3 in SURVEY §2.5)."""
    return q_pagerank_fog_k3(spark, sf_dir).orderBy("id").limit(100)


def q_graph_meta(spark, sf_dir):
    """The .desc metadata replacement (S6, convert/convert.cpp:145-153)."""
    edges = cooccur_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
    meta = edges.agg(
        F.min(F.least("src", "dst")).alias("min_vertex_id"),
        F.max(F.greatest("src", "dst")).alias("max_vertex_id"),
        F.count(F.lit(1)).alias("num_of_edges"),
    )
    return meta.crossJoin(deg.agg(F.max("c").alias("max_out_edges")))


SQL_GRAPH_META = f"""
WITH {EDGES_CTE},
d AS (SELECT src, count(*) AS c FROM edges GROUP BY src)
SELECT min(least(src, dst)) AS min_vertex_id, max(greatest(src, dst)) AS max_vertex_id,
       count(*) AS num_of_edges, (SELECT max(c) FROM d) AS max_out_edges
FROM edges
"""

# portable hex->int: position of each hex char in the alphabet (works in
# both Spark SQL and DuckDB; no engine-specific conv/from_hex involved)
_HEXPOS_SPARK = lambda c: F.instr(F.lit("0123456789abcdef"), c) - 1  # noqa: E731

SIMHASH_BITS = 16


def q_simhash16(spark, sf_dir):
    """16-bit SimHash over token sets via the first 4 hex chars of
    md5(token) — engine-portable (dedup op, SimHash family)."""
    toks = doc_tokens(spark, sf_dir).distinct().withColumn("h", F.md5("t"))
    val = sum(
        (_HEXPOS_SPARK(F.substring("h", i + 1, 1)) * (16 ** (3 - i))) for i in range(4)
    )
    tk = toks.withColumn("hv", val)
    aggs = [
        F.sum(
            F.when(F.floor(F.col("hv") / (2 ** b)) % 2 == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    per = tk.groupBy("doc_id").agg(*aggs)
    sim = sum(F.when(F.col(f"s{b}") > 0, 2 ** b).otherwise(0) for b in range(SIMHASH_BITS))
    return per.select("doc_id", sim.cast("long").alias("simhash16"))


def _sql_simhash16() -> str:
    hexpos = lambda i: f"(instr('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"  # noqa: E731
    val = " + ".join(hexpos(i) for i in range(4))
    sums = ", ".join(
        f"sum(CASE WHEN (hv // {2 ** b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    bits = " + ".join(f"CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(SIMHASH_BITS))
    return f"""
WITH {TOKENS_CTE},
d AS (SELECT DISTINCT doc_id, t FROM toks),
hv AS (SELECT doc_id, ({val}) AS hv FROM (SELECT doc_id, md5(t) AS h FROM d)),
per AS (SELECT doc_id, {sums} FROM hv GROUP BY doc_id)
SELECT doc_id, ({bits})::BIGINT AS simhash16 FROM per
"""


def q_ngram3_stats(spark, sf_dir):
    """Word-trigram shingle stats (the n-gram machinery behind n-gram
    Jaccard dedup), engine-portable via sequence+transform."""
    arr = F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
    docs = load(spark, sf_dir, "documents").select("doc_id", arr.alias("ts"))
    # guard short docs: sequence(1, 0) would DESCEND in Spark (DuckDB's
    # generate_series(1, 0) is empty) — both sides must emit no shingles
    ng = F.when(
        F.size("ts") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - 2),
            lambda i: F.concat_ws(" ", F.element_at("ts", i), F.element_at("ts", i + 1), F.element_at("ts", i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingled = docs.select("doc_id", F.explode(ng).alias("g"))
    return shingled.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"), F.countDistinct("g").alias("n_unique_shingles")
    )


SQL_NGRAM3_STATS = """
WITH arrs AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
sh AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 0)),
                                    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
       FROM arrs)
SELECT doc_id, count(*) AS n_shingles, count(DISTINCT g) AS n_unique_shingles
FROM sh GROUP BY doc_id
"""


def q_events_running_max(spark, sf_dir):
    """Running per-user max event value (window function coverage)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id", "event_id", F.round(F.max("value").over(w), 4).alias("run_max_r")
    )


SQL_EVENTS_RUNNING_MAX = """
SELECT user_id, event_id,
       round(max(value) OVER (PARTITION BY user_id ORDER BY event_id), 4) AS run_max_r
FROM events
"""


def q_embedding_knn_top3(spark, sf_dir):
    """Exact top-3 cosine neighbors (similarity-search coverage beyond top-1)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = e.select("vec_id", "embedding", F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"))
    a = n.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ae"), F.col("nrm").alias("an"))
    b = n.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("be"), F.col("nrm").alias("bn"))
    cos = (
        a.crossJoin(b)
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", (dot(F.col("ae"), F.col("be")) / (F.col("an") * F.col("bn"))).alias("cos"))
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("cos"), F.asc("b_id"))
    return (
        cos.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(F.col("a_id").alias("vec_id"), F.col("rnk").alias("rnk"), F.col("b_id").alias("nn_id"))
    )


SQL_EMBEDDING_KNN_TOP3 = """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings),
p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
r AS (SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS rnk FROM p)
SELECT a_id AS vec_id, rnk, b_id AS nn_id FROM r WHERE rnk <= 3
"""

QUERIES.update(
    {
        "pagerank_top100": q_pagerank_top100,
        "graph_meta": q_graph_meta,
        "simhash16": q_simhash16,
        "ngram3_stats": q_ngram3_stats,
        "events_running_max": q_events_running_max,
        "embedding_knn_top3": q_embedding_knn_top3,
    }
)

ORACLES.update(
    {
        "pagerank_top100": _sql_pagerank(PR_ROUNDS).replace(
            f"SELECT id, round(rank, 5) AS rank_r FROM r{PR_ROUNDS}",
            f"SELECT id, round(rank, 5) AS rank_r FROM r{PR_ROUNDS} ORDER BY id LIMIT 100",
        ),
        "graph_meta": SQL_GRAPH_META,
        "simhash16": _sql_simhash16(),
        "ngram3_stats": SQL_NGRAM3_STATS,
        "events_running_max": SQL_EVENTS_RUNNING_MAX,
        "embedding_knn_top3": SQL_EMBEDDING_KNN_TOP3,
    }
)


# ---------------------------------------------------------------------------
# round-2 additions: SCC (directed FW-BW), adjlist source, multimodal
# ---------------------------------------------------------------------------

# Directed graph for SCC: within each order, lineitems sorted by
# l_linenumber form a part-to-part chain; EVEN orders close the chain
# back to the first part (a directed cycle), ODD orders stay open
# chains — so the graph mixes nontrivial SCCs (merged cycles) with
# DAG regions (singleton SCCs). Self-edges are dropped.
def _dedges_cte(mod: int) -> str:
    return f"""
dlines AS (SELECT l_orderkey AS k, l_linenumber AS ln, l_partkey AS p FROM lineitem
           WHERE l_orderkey % {mod} = 0),
dedges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT p AS src,
           coalesce(lead(p) OVER w,
                    CASE WHEN k % 2 = 0 THEN first_value(p) OVER w END) AS dst
    FROM dlines
    WINDOW w AS (PARTITION BY k ORDER BY ln)
  ) WHERE dst IS NOT NULL AND src <> dst
)
""".strip()


# fixed-round FW-BW query: denser sample (one large SCC + chains);
# convergent library query: sparser sample (hundreds of mixed SCCs)
SCC_FIXED_MOD = 23
SCC_CONV_MOD = 97
DEDGES_CTE = _dedges_cte(SCC_FIXED_MOD)


def directed_edges(spark: SparkSession, sf_dir: str, mod: int = SCC_FIXED_MOD) -> DataFrame:
    """(src, dst): the order-chain directed graph (see _dedges_cte).

    The 1-in-``mod`` order sample controls SCC structure: the full
    table is so dense every part lands in ONE giant SCC; sampling
    yields a mix of nontrivial SCCs, small cycles, and DAG chains.
    """
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % mod == 0)
        .select(
            F.col("l_orderkey").alias("k"), F.col("l_linenumber").alias("ln"), F.col("l_partkey").alias("p")
        )
    )
    w = Window.partitionBy("k").orderBy("ln")
    chained = li.select(
        F.col("p").alias("src"),
        F.coalesce(
            F.lead("p").over(w),
            F.when(F.col("k") % 2 == 0, F.first("p").over(w)),
        ).alias("dst"),
    )
    return chained.where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst"))).distinct()


SCC_FWD_ROUNDS = 6
SCC_BWD_ROUNDS = 6


def q_scc_fwbw_k6(spark, sf_dir):
    """SCC by one FW-BW coloring round — the library SCC's own round,
    scc.forward_backward — capped at 6 + 6 supersteps (SURVEY §2.8 A6/A7,
    reference application/scc.hpp:22-207 semantics):

    - FORWARD (k=6): hash-min label along out-edges — fwd(v) = min id
      reaching v within 6 hops (scc.hpp's fwd MIN gather);
    - BACKWARD (k=6): confirmation from roots (fwd(v)==v) along
      REVERSED edges restricted to equal fwd labels (the
      "absorb iff update.root == prev_root" match-detect,
      scc.hpp:157-167);
    - scc_id = fwd label if confirmed else own id (unpeeled vertices
      stay singletons — the state after the reference's first outer
      round; full fixed-point peeling is pytest-oracled vs Tarjan in
      tests/test_scc.py on the library implementation).
    """
    from fog_spark.algorithms.scc import forward_backward
    from fog_spark.engine.superstep import vertices_of

    edges = directed_edges(spark, sf_dir).persist()
    fwd, conf = forward_backward(edges, vertices_of(edges), SCC_FWD_ROUNDS, SCC_BWD_ROUNDS)
    edges.unpersist()
    confirmed = fwd.join(conf.withColumn("conf", F.lit(True)), "id", "left")
    return confirmed.select(
        "id", F.when(F.col("conf"), F.col("lbl")).otherwise(F.col("id")).alias("scc_id")
    )


def _sql_scc(kf: int, kb: int) -> str:
    ctes = [
        DEDGES_CTE,
        "dverts AS (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges)",
        "f0 AS MATERIALIZED (SELECT id, id AS lbl FROM dverts)",
    ]
    for i in range(1, kf + 1):
        ctes.append(
            f"f{i} AS MATERIALIZED (SELECT v.id, least(v.lbl, coalesce(m.m, v.lbl)) AS lbl "
            f"FROM f{i-1} v LEFT JOIN (SELECT e.dst, min(f.lbl) AS m "
            f"FROM dedges e JOIN f{i-1} f ON e.src = f.id GROUP BY e.dst) m ON v.id = m.dst)"
        )
    ctes.append(
        f"revsame AS MATERIALIZED (SELECT e.dst AS src, e.src AS dst FROM dedges e "
        f"JOIN f{kf} a ON e.src = a.id JOIN f{kf} b ON e.dst = b.id WHERE a.lbl = b.lbl)"
    )
    ctes.append(f"c0 AS MATERIALIZED (SELECT id, lbl, (id = lbl) AS conf FROM f{kf})")
    for i in range(1, kb + 1):
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT v.id, v.lbl, (v.conf OR m.rid IS NOT NULL) AS conf "
            f"FROM c{i-1} v LEFT JOIN (SELECT DISTINCT r.dst AS rid FROM revsame r "
            f"JOIN c{i-1} c ON r.src = c.id WHERE c.conf) m ON v.id = m.rid)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CASE WHEN conf THEN lbl ELSE id END AS scc_id FROM c{kb}"
    )


def q_scc_converged(spark, sf_dir):
    """The LIBRARY strongly_connected_components run to completion —
    full trim + FW-BW peeling (application/scc.hpp:22-207) made
    driver-visible. The oracle computes the exact fixed point directly:
    scc_id(v) = min{u : u reaches v AND v reaches u} via a recursive
    transitive closure."""
    from fog_spark.algorithms.scc import strongly_connected_components

    return strongly_connected_components(
        directed_edges(spark, sf_dir, mod=SCC_CONV_MOD)
    ).select("id", "component")


SQL_SCC_CONVERGED = f"""
WITH RECURSIVE {_dedges_cte(SCC_CONV_MOD)},
dverts AS (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges),
reach AS (
  SELECT id AS u, id AS v FROM dverts
  UNION
  SELECT r.u, e.dst AS v FROM reach r JOIN dedges e ON e.src = r.v
)
SELECT f.v AS id, min(f.u) AS component
FROM reach f
WHERE EXISTS (SELECT 1 FROM reach b WHERE b.u = f.v AND b.v = f.u)
GROUP BY f.v
"""


def q_adjlist_roundtrip(spark, sf_dir):
    """SNAP adjacency-list source parity (S2, convert/process_adjlist.cpp:
    32-271): render the co-occurrence graph in ``src n d1 .. dn`` text
    form (distributed write), parse it back with sources.read_adjlist,
    and return the edge table — which must equal the direct derivation.
    The text round-trip exercises comment filtering, per-row degree
    slicing, and the deterministic weight assignment."""
    from fog_spark.engine import fs
    from fog_spark.sources.edgelist import read_adjlist

    edges = cooccur_edges(spark, sf_dir)
    lines = (
        edges.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("ds"))
        .select(
            F.concat_ws(
                " ",
                F.col("src").cast("string"),
                F.size("ds").cast("string"),
                F.concat_ws(" ", F.col("ds").cast("array<string>")),
            ).alias("value")
        )
    )
    out_dir = fs.scratch_dir(spark, "adjlist")
    header = spark.createDataFrame([("# fog_spark adjlist roundtrip",)], ["value"])
    header.unionByName(lines).coalesce(8).write.mode("overwrite").text(out_dir)
    return read_adjlist(spark, out_dir)


SQL_ADJLIST_ROUNDTRIP = SQL_COOCCUR_EDGES


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic multimodal table derived from documents: opaque binary
    payload + typed metadata struct (datapipe/multimodal.MEDIA_SCHEMA).
    kind cycles image/audio/video by doc_id; metadata is a pure function
    of doc_id so an external oracle can reproduce it."""
    d = load(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    meta = F.struct(
        (F.col("doc_id") % 48 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 32 + 16).cast("int").alias("height"),
        F.lit(16000).cast("int").alias("sample_rate"),
        (F.col("doc_id") % 97).cast("int").alias("n_frames"),
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        meta.alias("meta"),
    )


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plan (multimodal op): one row per sampled
    frame index — the Spark-side plumbing around the (stubbed) decode."""
    from fog_spark.datapipe.multimodal import frame_sample

    return frame_sample(media_table(spark, sf_dir), every_n=10).select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


SQL_FRAME_SAMPLE = """
WITH vids AS (SELECT doc_id AS media_id, (doc_id % 97)::INT AS nf
              FROM documents WHERE doc_id % 3 = 2)
SELECT media_id, unnest(generate_series(0, nf - 1, 10))::BIGINT AS frame_idx
FROM vids WHERE nf > 0
"""


def q_image_features(spark, sf_dir):
    """Image decode -> luma feature (multimodal op). The decode is the
    documented deterministic stub (datapipe/multimodal.FakeDecoder — no
    media libs in-container), but the stub is CLOSED-FORM (md5 digest
    bytes tiled over the pixel grid), so mean luminance is reproducible
    by the SQL oracle below from md5(text) alone — a full rows+schema+
    hash check of the mapInPandas plumbing AND the feature math."""
    from fog_spark.datapipe.multimodal import FakeDecoder, image_features

    # decoder pinned: the oracle below replays FakeDecoder's closed
    # form, so auto-detecting Pillow here would break the contract (the
    # payloads are utf-8 text, not real image bytes)
    feats = image_features(media_table(spark, sf_dir), resize_to=8, decoder=FakeDecoder)
    return feats.select("media_id", F.round("mean_luma", 6).alias("mean_luma_r"))


# Mean luma of the closed-form pseudo-decode: flattened pixel m is
# digest[m % 16]; one 16-pixel period of scaled luma (299R+587G+114B)
# sums to exactly 1000 * sum(digest bytes) because 3k, 3k+1, 3k+2 each
# walk the full residue system mod 16. The tail is the first hw % 16
# pixels, expanded per-k.  Both sides do ONE int/int double division.
SQL_IMAGE_FEATURES = """
WITH imgs AS (
  SELECT doc_id AS media_id, md5(text) AS hx,
         (doc_id % 32 + 16)::BIGINT AS h, (doc_id % 48 + 16)::BIGINT AS w
  FROM documents WHERE doc_id % 3 = 0
),
bytes AS (
  SELECT media_id, h, w, i,
         (strpos('0123456789abcdef', substr(hx, 2*i::INT+1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2*i::INT+2, 1)) - 1) AS b
  FROM imgs, range(16) t(i)
),
digests AS (
  SELECT media_id, h, w, sum(b)::BIGINT AS sumd, list(b ORDER BY i) AS d
  FROM bytes GROUP BY media_id, h, w
),
rem AS (
  SELECT media_id,
         sum(299 * d[(3*k) % 16 + 1] + 587 * d[(3*k+1) % 16 + 1]
             + 114 * d[(3*k+2) % 16 + 1])::BIGINT AS rem_sum
  FROM digests, range(15) t(k)
  WHERE k < (h*w) % 16
  GROUP BY media_id
)
SELECT g.media_id,
       round((((h*w) // 16) * 1000 * sumd + coalesce(rem_sum, 0))::DOUBLE
             / (1000 * h * w), 6) AS mean_luma_r
FROM digests g LEFT JOIN rem USING (media_id)
"""


def q_audio_features(spark, sf_dir):
    """Audio decode -> waveform stats (multimodal op), same closed-form
    stub story as image_features: the pseudo-waveform is md5 digest
    bytes tiled over the sample grid, and mean/std are exact-integer
    computations, so DuckDB reproduces them from md5(text) alone."""
    from fog_spark.datapipe.multimodal import FakeDecoder, audio_features

    feats = audio_features(media_table(spark, sf_dir), decoder=FakeDecoder)
    return feats.select(
        "media_id",
        F.round("wave_mean", 6).alias("wave_mean_r"),
        F.round("wave_std", 6).alias("wave_std_r"),
    )


# Clip length is min(sample_rate, 4096) = 4096 (media_table sets sr
# 16000), and 4096 = 256 full 16-sample periods, so the sums collapse:
# sample k is digest[(3k) % 16] (channel 0 of flattened pixel 3k) and
# 3k walks the full residue system mod 16 -> s = 256*sum(d),
# ssq = 256*sum(d^2). std = sqrt(n*ssq - s^2)/n (population), matching
# the kernel's exact-integer formulation bit for bit.
SQL_AUDIO_FEATURES = """
WITH auds AS (
  SELECT doc_id AS media_id, md5(text) AS hx
  FROM documents WHERE doc_id % 3 = 1
),
bytes AS (
  SELECT media_id, i,
         (strpos('0123456789abcdef', substr(hx, 2*i::INT+1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2*i::INT+2, 1)) - 1) AS b
  FROM auds, range(16) t(i)
),
agg AS (
  SELECT media_id, sum(b)::BIGINT AS sumd, sum(b*b)::BIGINT AS sumsq
  FROM bytes GROUP BY media_id
)
SELECT media_id,
       round((256 * sumd)::DOUBLE / 4096, 6) AS wave_mean_r,
       round(sqrt((4096 * 256 * sumsq - (256 * sumd) * (256 * sumd))::DOUBLE)
             / 4096, 6) AS wave_std_r
FROM agg
"""


def q_pagerank_resume_k3(spark, sf_dir):
    """Checkpoint/resume made driver-visible (S7/S11 + north_rule
    "resumable from checkpoint"): run 2 FOG-mode supersteps under a
    RunContext, 'crash', then a FRESH context resumes from the committed
    step-2 parquet snapshot and runs step 3. The result must match the
    same 3-round recurrence computed without any checkpointing — the
    oracle is identical to pagerank_fog_k3's."""
    from fog_spark.algorithms.pagerank import pagerank_fog
    from fog_spark.engine import fs
    from fog_spark.engine.checkpoint import RunContext

    edges = cooccur_edges(spark, sf_dir).persist()
    run_dir = fs.scratch_dir(spark, "resume")
    ctx1 = RunContext(spark, run_dir, "pr", collect_lineage=False)
    pagerank_fog(edges, niters=2, ctx=ctx1)  # "crash" after superstep 2
    ctx2 = RunContext(spark, run_dir, "pr", collect_lineage=False)
    assert ctx2.resume_point() is not None  # resumes, does NOT restart
    ranks = pagerank_fog(edges, niters=PR_ROUNDS, ctx=ctx2)
    edges.unpersist()
    return ranks.select("id", F.round("rank", 5).alias("rank_r"))


def q_stream_degrees(spark, sf_dir):
    """Structured-Streaming ingestion made driver-visible: feed the
    co-occurrence edge table through the file-source stream +
    foreachBatch delta publishes (streaming/ingest.incremental_degrees),
    then fold the delta partitions — must equal the batch out_degrees."""
    from fog_spark.engine import fs
    from fog_spark.streaming.ingest import incremental_degrees, read_degrees, stream_edges

    work = fs.scratch_dir(spark, "stream_deg")
    inp = f"{work}/edges_in"
    cooccur_edges(spark, sf_dir).write.mode("overwrite").parquet(inp)
    incremental_degrees(
        stream_edges(spark, inp), f"{work}/degrees", f"{work}/ckpt"
    ).awaitTermination()
    return read_degrees(spark, f"{work}/degrees").select(
        "id", F.col("outdeg").cast("long").alias("outdeg")
    )


def q_stream_sessions(spark, sf_dir):
    """Watermarked session_window aggregation (streaming op) on the
    events table, run availableNow to completion. Session semantics:
    a gap >= 30min starts a new session (Spark merges windows that
    OVERLAP, i.e. next_ts - prev_ts < gap extends the session)."""
    import uuid

    from fog_spark.engine import fs
    from fog_spark.streaming.ingest import stream_event_sessions

    # file-source streams read directories: stage the events table into
    # one (a distributed Spark write, not a driver-side copy)
    inp = fs.scratch_dir(spark, "stream_ev") + "/in"
    load(spark, sf_dir, "events").write.mode("overwrite").parquet(inp)
    stream = spark.readStream.schema(
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    ).parquet(inp)
    name = "sess_" + uuid.uuid4().hex[:12]
    q = (
        stream_event_sessions(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        F.unix_timestamp("start").alias("session_start_e"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value_r"),
    )


SQL_STREAM_SESSIONS = """
WITH x AS (
  -- gap test on EXACT (sub-second) epochs: Spark merges session windows
  -- on microsecond-precision timestamps; the output epoch is floored
  -- to match Spark's truncating unix_timestamp (DuckDB ::BIGINT rounds)
  SELECT user_id, floor(epoch(ts))::BIGINT AS e, epoch(ts) AS ex, value,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - lag(epoch(ts)) OVER w >= 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, e, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ex ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
)
SELECT user_id, min(e) AS session_start_e,
       count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value_r
FROM s GROUP BY user_id, sid
"""


def q_cc_converged(spark, sf_dir):
    """The LIBRARY connected_components run to its fixed point — the
    frontier-scheduled TARGET loop (F4 changed-only rescheduling + I2
    run-until-frontier-empty, fogsrc/fog_engine.cpp:159-209) made
    driver-visible. Unlike cc_hashmin (the same loop capped at 12
    supersteps), this runs until the frontier empties: observed active
    counts, broadcast hints, per-superstep lineage cuts.
    The oracle computes the same fixed point via a recursive CTE
    (min id over the symmetric transitive closure)."""
    from fog_spark.algorithms.cc import connected_components

    return connected_components(cooccur_edges(spark, sf_dir)).select("id", "component")


SQL_CC_CONVERGED = f"""
WITH RECURSIVE {EDGES_CTE},
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
verts AS (SELECT DISTINCT src AS id FROM sym),
r AS (
  SELECT id, id AS comp FROM verts
  UNION
  -- prune: a label relayed through a node w < comp can never be any
  -- downstream node's min (w's own smaller label follows the same
  -- path), so only comp < dst rows matter — 4x less closure state
  SELECT s.dst AS id, r.comp FROM r JOIN sym s ON s.src = r.id
  WHERE r.comp < s.dst
)
SELECT id, min(comp) AS component FROM r GROUP BY id
"""


EMB_NEARDUP_THRESHOLD = 0.4  # synthetic embeddings are near-orthogonal; 0.4 yields real pairs


def q_stream_user_stats(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    running per-user (count, max value) driven to completion with
    availableNow. The final state per user equals the batch aggregate —
    the sink is folded by max(n) since update mode may emit a row per
    micro-batch and n is monotone."""
    import uuid

    from fog_spark.engine import fs
    from fog_spark.streaming.ingest import stream_running_user_stats

    inp = fs.scratch_dir(spark, "stream_us") + "/in"
    load(spark, sf_dir, "events").write.mode("overwrite").parquet(inp)
    stream = spark.readStream.schema(
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    ).parquet(inp)
    name = "ustats_" + uuid.uuid4().hex[:12]
    q = (
        stream_running_user_stats(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.round(F.max("max_value"), 4).alias("max_value_r"),
    )


SQL_STREAM_USER_STATS = """
SELECT user_id, count(*)::BIGINT AS n_events, round(max(value), 4) AS max_value_r
FROM events GROUP BY user_id
"""


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs (dedup family #5): exact
    all-pairs at oracle scale; the scale path shortlists via LSH
    (datapipe/similarity.embedding_near_dups(candidates=...))."""
    from fog_spark.datapipe.similarity import embedding_near_dups

    pairs = embedding_near_dups(
        load(spark, sf_dir, "embeddings"), threshold=EMB_NEARDUP_THRESHOLD
    )
    return pairs.select("a_id", "b_id", F.round("cos", 6).alias("cos_r"))


SQL_EMBEDDING_NEAR_DUPS = f"""
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos_r
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= {EMB_NEARDUP_THRESHOLD}
"""


def q_winnow_sketch(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprint sketch per document —
    MOSS-style k-gram window-min (datapipe/text.winnowing_sketch)."""
    from fog_spark.datapipe.text import winnowing_sketch

    return winnowing_sketch(load(spark, sf_dir, "documents"), k=8, w=4).select(
        F.col("id").alias("doc_id"), "n_windows", "n_fingerprints", "min_fp"
    )


SQL_WINNOW_SKETCH = """
WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s FROM documents),
ok AS (SELECT doc_id, s, length(s) - 8 + 1 AS n_grams FROM d WHERE length(s) >= 8 + 4 - 1),
grams AS (SELECT doc_id, n_grams, unnest(generate_series(1, n_grams)) AS p, s FROM ok),
hashed AS (SELECT doc_id, n_grams, p, md5(substr(s, p, 8)) AS h FROM grams),
fps AS (SELECT doc_id, p,
               min(h) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               n_grams
        FROM hashed)
SELECT doc_id, count(*) AS n_windows, count(DISTINCT fp) AS n_fingerprints, min(fp) AS min_fp
FROM fps WHERE p <= n_grams - 4 + 1 GROUP BY doc_id
"""


def q_doc_token_bpe(spark, sf_dir):
    """BPE-ish pretokenizer token counting (training-data token budgets)."""
    from fog_spark.datapipe.text import bpe_token_stats

    return bpe_token_stats(load(spark, sf_dir, "documents")).select(
        F.col("id").alias("doc_id"), "n_bpe_tokens", "n_unique_bpe"
    )


SQL_DOC_TOKEN_BPE = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text),
                '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+|\s+')) AS t
  FROM documents
)
SELECT doc_id, count(*) AS n_bpe_tokens, count(DISTINCT t) AS n_unique_bpe
FROM toks WHERE NOT regexp_matches(t, '^\s+$') GROUP BY doc_id
"""


QUERIES.update(
    {
        "winnow_sketch": q_winnow_sketch,
        "doc_token_bpe": q_doc_token_bpe,
        "scc_fwbw_k6": q_scc_fwbw_k6,
        "adjlist_roundtrip": q_adjlist_roundtrip,
        "frame_sample": q_frame_sample,
        "image_features": q_image_features,
        "pagerank_resume_k3": q_pagerank_resume_k3,
        "stream_degrees": q_stream_degrees,
        "stream_sessions": q_stream_sessions,
        "stream_user_stats": q_stream_user_stats,
        "embedding_near_dups": q_embedding_near_dups,
        "cc_converged": q_cc_converged,
        "scc_converged": q_scc_converged,
        "ivf_knn": q_ivf_knn,
        "audio_features": q_audio_features,
        "dedup_clusters": q_dedup_clusters,
        "events_asof_join": q_events_asof_join,
        "kcore110_r2": q_kcore110_r2,
        "random_walks_k4": q_random_walks_k4,
        "tfidf_top5": q_tfidf_top5,
        "clustering_coeff": q_clustering_coeff,
    }
)

ORACLES.update(
    {
        "scc_fwbw_k6": _sql_scc(SCC_FWD_ROUNDS, SCC_BWD_ROUNDS),
        "adjlist_roundtrip": SQL_ADJLIST_ROUNDTRIP,
        "frame_sample": SQL_FRAME_SAMPLE,
        "pagerank_resume_k3": _sql_pagerank(PR_ROUNDS),
        "stream_degrees": SQL_OUT_DEGREES,
        "stream_sessions": SQL_STREAM_SESSIONS,
        "stream_user_stats": SQL_STREAM_USER_STATS,
        "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
        "cc_converged": SQL_CC_CONVERGED,
        "scc_converged": SQL_SCC_CONVERGED,
        "winnow_sketch": SQL_WINNOW_SKETCH,
        "doc_token_bpe": SQL_DOC_TOKEN_BPE,
        # image_features IS oracled: the decode stub is closed-form
        # (md5 bytes tiled over pixels), so DuckDB reproduces mean luma.
        "image_features": SQL_IMAGE_FEATURES,
        "ivf_knn": SQL_IVF_KNN,
        "audio_features": SQL_AUDIO_FEATURES,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "events_asof_join": SQL_EVENTS_ASOF_JOIN,
        "kcore110_r2": SQL_KCORE110_R2,
        "random_walks_k4": _sql_random_walks(4),
        "tfidf_top5": SQL_TFIDF_TOP5,
        "clustering_coeff": SQL_CLUSTERING_COEFF,
    }
)


# ---------------------------------------------------------------------------
# round 4: biased walks + personalized PageRank (embedding-pipeline ops)
# ---------------------------------------------------------------------------

N2V_P, N2V_Q = 2, 3  # all three scaled weights distinct: return=3, dist1=6, dist2=2


def q_node2vec_k3(spark, sf_dir):
    """Second-order biased node2vec walks (algorithms/walks.node2vec_walks,
    Grover & Leskovec KDD'16), 3 steps, p=2 q=3: integer scaled weights
    (q, p*q, p) over the dst-ordered neighborhood, cumulative-weight
    pick by md5(walk_id-step-seed) mod total — every hop exact integer
    math the SQL oracle replays."""
    from fog_spark.algorithms.walks import node2vec_walks

    out = node2vec_walks(cooccur_edges(spark, sf_dir), length=3, p=N2V_P, q=N2V_Q, seed=42)
    return out.select("walk_id", F.col("step").cast("long").alias("step"), "vertex")


def _sql_node2vec(k: int, p: int, q: int, seed: int = 42) -> str:
    h1 = _hex8_sql(f"md5(w.walk_id::VARCHAR || '-1-{seed}')")
    steps = [
        f"W1 AS MATERIALIZED (SELECT w.walk_id, 1::BIGINT AS step, a.dst AS vertex, w.vertex AS prev\n"
        f"  FROM W0 w JOIN adj a ON a.src = w.vertex AND a.idx = ({h1} % a.outdeg))"
    ]
    for t in range(2, k + 1):
        h = _hex8_sql(f"md5(walk_id::VARCHAR || '-{t}-{seed}')")
        steps.append(
            f"C{t} AS (SELECT w.walk_id, w.vertex, w.prev, a.dst AS cand,\n"
            f"  CASE WHEN a.dst = w.prev THEN {q}\n"
            f"       WHEN e2.src IS NOT NULL THEN {p * q} ELSE {p} END AS wgt\n"
            f"  FROM W{t-1} w JOIN adj a ON a.src = w.vertex\n"
            f"  LEFT JOIN ded e2 ON e2.src = w.prev AND e2.dst = a.dst),\n"
            f"S{t} AS (SELECT *,\n"
            f"  sum(wgt) OVER (PARTITION BY walk_id ORDER BY cand\n"
            f"                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,\n"
            f"  sum(wgt) OVER (PARTITION BY walk_id) AS tot FROM C{t}),\n"
            f"W{t} AS (SELECT walk_id, {t}::BIGINT AS step, cand AS vertex, vertex AS prev\n"
            f"  FROM S{t} WHERE ({h} % tot) >= cum - wgt AND ({h} % tot) < cum)"
        )
    union = " UNION ALL ".join(
        ["SELECT walk_id, step, vertex FROM W0"]
        + [f"SELECT walk_id, step, vertex FROM W{t}" for t in range(1, k + 1)]
    )
    return f"""
WITH {EDGES_CTE},
ded AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
adj AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
               count(*) OVER (PARTITION BY src) AS outdeg FROM ded),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
W0 AS (SELECT id AS walk_id, 0::BIGINT AS step, id AS vertex FROM verts),
{','.join(steps)}
{union}
"""


PPR_ROUNDS = 3
PPR_SEED_MOD = 100  # seeds = vertices with id % 100 == 0


def q_ppr_seeded(spark, sf_dir):
    """Personalized PageRank (algorithms/pagerank.pagerank_personalized):
    teleport concentrated on the id%100==0 seed set, dangling mass to
    the seeds, exactly 3 supersteps (tol=0 -> fixed depth, the
    convergence-independent form; the 1e-6 convergent path shares the
    loop and is pytest-oracled against numpy)."""
    from fog_spark.algorithms.pagerank import pagerank_personalized
    from fog_spark.engine.superstep import vertices_of

    edges = cooccur_edges(spark, sf_dir).persist()
    verts = vertices_of(edges)
    seeds = verts.filter(F.col("id") % PPR_SEED_MOD == 0)
    ranks, _ = pagerank_personalized(edges, seeds, vertices=verts, tol=0.0, max_iters=PPR_ROUNDS)
    edges.unpersist()
    return ranks.select("id", F.round("rank", 8).alias("rank_r"))


def _sql_ppr(k: int, seed_mod: int) -> str:
    ctes = [
        EDGES_CTE,
        "deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src)",
        "verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "vd AS (SELECT v.id, coalesce(d.outdeg, 0) AS outdeg FROM verts v LEFT JOIN deg d USING (id))",
        f"ns AS (SELECT count(*)::DOUBLE AS n FROM verts WHERE id % {seed_mod} = 0)",
        f"r0 AS MATERIALIZED (SELECT vd.id, vd.outdeg, "
        f"CASE WHEN vd.id % {seed_mod} = 0 THEN 1.0::DOUBLE / ns.n ELSE 0.0::DOUBLE END AS tele, "
        f"CASE WHEN vd.id % {seed_mod} = 0 THEN 1.0::DOUBLE / ns.n ELSE 0.0::DOUBLE END AS rank "
        f"FROM vd, ns)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"d{i} AS (SELECT coalesce(sum(rank), 0.0)::DOUBLE AS dang FROM r{i-1} WHERE outdeg = 0)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT r.id, r.outdeg, r.tele, "
            f"(1.0::DOUBLE - 0.85::DOUBLE + 0.85::DOUBLE * d.dang) * r.tele "
            f"+ 0.85::DOUBLE * coalesce(m.s, 0.0::DOUBLE) AS rank "
            f"FROM r{i-1} r LEFT JOIN (SELECT e.dst, sum(r.rank / r.outdeg) AS s "
            f"FROM edges e JOIN r{i-1} r ON e.src = r.id GROUP BY e.dst) m ON r.id = m.dst, d{i} d)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(rank, 8) AS rank_r FROM r{k}"


QUERIES.update(
    {
        "node2vec_k3": q_node2vec_k3,
        "ppr_seeded": q_ppr_seeded,
    }
)

ORACLES.update(
    {
        "node2vec_k3": _sql_node2vec(3, N2V_P, N2V_Q),
        "ppr_seeded": _sql_ppr(PPR_ROUNDS, PPR_SEED_MOD),
    }
)


# ---------------------------------------------------------------------------
# round 4: end-to-end dedup pipeline (shortlist -> verify -> cluster -> corpus)
# ---------------------------------------------------------------------------

PIPE_MINHASH_K, PIPE_BANDS, PIPE_MAX_BUCKET = 4, 2, 1000


def q_dedup_pipeline(spark, sf_dir):
    """The FULL dedup pipeline as ONE query, every stage the scale path:
    minhash_lsh_candidates (banded shortlist, bucket cap) ->
    ngram_jaccard_pairs(candidates=shortlist) (exact verify, semi-join
    restricted) -> near_dup_clusters (CC closure) -> canonical corpus.
    No all-pairs anywhere. The oracle reproduces the SAME shortlist:
    minhash here uses the portable md5-hex hash family (min over hex
    strings), so DuckDB replays signatures, bands, buckets, candidate
    pairs, Jaccard verification, and the cluster closure verbatim.
    Output: one row per canonical (kept) document with its duplicate-
    cluster size."""
    from fog_spark.datapipe.dedup import (
        minhash_lsh_candidates,
        near_dup_clusters,
        ngram_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    md5_hash = lambda i, c: F.md5(F.concat(F.lit(f"{i}:"), c))  # noqa: E731
    md5_band = lambda b, cols: F.md5(F.concat_ws("|", F.lit(b), *cols))  # noqa: E731
    cands = minhash_lsh_candidates(
        docs, k=PIPE_MINHASH_K, bands=PIPE_BANDS, ngram=3,
        max_bucket=PIPE_MAX_BUCKET, hash_fn=md5_hash, band_fn=md5_band,
    )
    pairs = ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD, ngram=3, candidates=cands)
    clusters = near_dup_clusters(docs, pairs.select("a_id", "b_id"))
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        clusters.filter(F.col("is_canonical"))
        .join(sizes, "cluster_id")
        .select("doc_id", "n_members")
    )


SQL_DEDUP_PIPELINE = f"""
WITH RECURSIVE
arrs AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
sh0 AS (SELECT doc_id AS id,
               unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 0)),
                                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS t
        FROM arrs),
sh AS MATERIALIZED (SELECT DISTINCT id, t FROM sh0),
sig AS MATERIALIZED (
  SELECT id, {", ".join(f"min(md5('{i}:' || t)) AS mh{i}" for i in range(PIPE_MINHASH_K))}
  FROM sh GROUP BY id),
banded AS MATERIALIZED (
  SELECT id, 0 AS band, md5('0' || '|' || mh0 || '|' || mh1) AS bucket FROM sig
  UNION ALL
  SELECT id, 1 AS band, md5('1' || '|' || mh2 || '|' || mh3) AS bucket FROM sig),
bsizes AS (SELECT band, bucket, count(*) AS n FROM banded GROUP BY band, bucket),
small AS MATERIALIZED (
  SELECT b.id, b.band, b.bucket FROM banded b
  JOIN bsizes s ON b.band = s.band AND b.bucket = s.bucket
  WHERE s.n <= {PIPE_MAX_BUCKET}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS a, b.id AS b
  FROM small a JOIN small b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
szs AS MATERIALIZED (SELECT id, count(*) AS n FROM sh GROUP BY id),
common AS MATERIALIZED (
  SELECT c.a, c.b, count(*) AS c
  FROM cand c JOIN sh x ON x.id = c.a JOIN sh y ON y.id = c.b AND y.t = x.t
  GROUP BY c.a, c.b),
pairs AS MATERIALIZED (
  SELECT common.a, common.b
  FROM common JOIN szs sa ON common.a = sa.id JOIN szs sb ON common.b = sb.id
  WHERE c / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}),
sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
r AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT s.dst AS id, r.comp FROM r JOIN sym s ON s.src = r.id
  WHERE r.comp < s.dst
),
cc AS (SELECT id, min(comp) AS cluster_id FROM r GROUP BY id),
szc AS (SELECT cluster_id, count(*) AS n_members FROM cc GROUP BY cluster_id)
SELECT c.id AS doc_id, s.n_members
FROM cc c JOIN szc s USING (cluster_id) WHERE c.id = c.cluster_id
"""

QUERIES["dedup_pipeline"] = q_dedup_pipeline
ORACLES["dedup_pipeline"] = SQL_DEDUP_PIPELINE


# ---------------------------------------------------------------------------
# round 4: approximate distinct reach (KMV/bottom-k sketch)
# ---------------------------------------------------------------------------

KMV_K = 32


def q_kmv_reach(spark, sf_dir):
    """Approximate distinct out-neighbor count per vertex via the KMV
    bottom-k sketch (datapipe/sketches.kmv_distinct, k=32). Unlike
    HLL++ the estimate is a deterministic md5-based function of the
    value set, so the oracle reproduces it EXACTLY — an approximate
    query with an exact correctness gate."""
    from fog_spark.datapipe.sketches import kmv_distinct

    out = kmv_distinct(cooccur_edges(spark, sf_dir), "src", "dst", k=KMV_K)
    return out.select(
        "src",
        F.col("n_seen").cast("long").alias("n_seen"),
        F.round("estimate", 6).alias("est_r"),
    )


def _hex_fold_sql(expr: str, digits: int) -> str:
    """First ``digits`` md5 hex chars folded to an integer (DuckDB twin
    of Spark conv(substring(md5(..), 1, digits), 16, 10))."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) * {16 ** (digits - 1 - i)}"
        for i in range(digits)
    ) + ")"


SQL_KMV_REACH = f"""
WITH {EDGES_CTE},
d AS (SELECT DISTINCT src, dst FROM edges),
h AS (SELECT src, {_hex_fold_sql("md5(dst::VARCHAR)", 13)} + 1 AS hv FROM d),
r AS (SELECT src, hv, row_number() OVER (PARTITION BY src ORDER BY hv) AS rk,
             count(*) OVER (PARTITION BY src) AS nd FROM h),
s AS (SELECT * FROM r WHERE rk = least(nd, {KMV_K}))
SELECT src, least(nd, {KMV_K})::BIGINT AS n_seen,
       round(CASE WHEN nd <= {KMV_K} THEN nd::DOUBLE
                  ELSE {KMV_K - 1}.0 / (hv / {float(2 ** 52)!r}) END, 6) AS est_r
FROM s
"""

QUERIES["kmv_reach"] = q_kmv_reach
ORACLES["kmv_reach"] = SQL_KMV_REACH


# ---------------------------------------------------------------------------
# round 4: rejection-sampled node2vec (KnightKing strategy, SOSP'19)
# ---------------------------------------------------------------------------

N2VR_ATTEMPTS = 2


def q_node2vec_rej_k3(spark, sf_dir):
    """node2vec via rejection sampling (walks.node2vec_walks_rejection):
    per step, up to 2 uniform point-lookup draws with integer-weight
    accept tests; the rejected residue falls back to the exact
    cumulative pick — distribution-exact while touching O(|walks|)
    rows. Every draw, accept bit, and fallback is md5-replayed by the
    oracle."""
    from fog_spark.algorithms.walks import node2vec_walks_rejection

    out = node2vec_walks_rejection(
        cooccur_edges(spark, sf_dir), length=3, p=N2V_P, q=N2V_Q,
        seed=42, attempts=N2VR_ATTEMPTS,
    )
    return out.select("walk_id", F.col("step").cast("long").alias("step"), "vertex")


def _sql_node2vec_rejection(k: int, p: int, q: int, attempts: int, seed: int = 42) -> str:
    big_w = max(q, p * q, p)
    wgt = (
        f"CASE WHEN a.dst = l.prev THEN {q} "
        f"WHEN e2.src IS NOT NULL THEN {p * q} ELSE {p} END"
    )
    h1c = _hex8_sql(f"md5(w.walk_id::VARCHAR || '-1:c-{seed}')")
    steps = [
        f"W1 AS MATERIALIZED (SELECT w.walk_id, 1::BIGINT AS step, a.dst AS vertex, w.vertex AS prev\n"
        f"  FROM W0 w JOIN degv dv ON dv.src = w.vertex\n"
        f"  JOIN adj a ON a.src = w.vertex AND a.idx = ({h1c} % dv.outdeg))"
    ]
    for t in range(2, k + 1):
        steps.append(f"L{t}_0 AS (SELECT walk_id, vertex, prev FROM W{t-1})")
        acc_names = []
        for a in range(attempts):
            hc = _hex8_sql(f"md5(l.walk_id::VARCHAR || '-{t}:{a}:c-{seed}')")
            hr = _hex8_sql(f"md5(l.walk_id::VARCHAR || '-{t}:{a}:r-{seed}')")
            # MATERIALIZED: referenced twice (A + next L) — see weighted walks
            steps.append(
                f"D{t}_{a} AS MATERIALIZED (SELECT l.walk_id, l.vertex, l.prev, a.dst AS cand,\n"
                f"  {wgt} AS wgt, ({hr} % {big_w}) AS acc\n"
                f"  FROM L{t}_{a} l JOIN degv dv ON dv.src = l.vertex\n"
                f"  JOIN adj a ON a.src = l.vertex AND a.idx = ({hc} % dv.outdeg)\n"
                f"  LEFT JOIN ded e2 ON e2.src = l.prev AND e2.dst = a.dst)"
            )
            steps.append(
                f"A{t}_{a} AS (SELECT walk_id, cand AS vertex, vertex AS prev\n"
                f"  FROM D{t}_{a} WHERE acc < wgt)"
            )
            steps.append(
                f"L{t}_{a + 1} AS (SELECT walk_id, vertex, prev FROM D{t}_{a} WHERE acc >= wgt)"
            )
            acc_names.append(f"A{t}_{a}")
        hf = _hex8_sql(f"md5(walk_id::VARCHAR || '-{t}:f-{seed}')")
        steps.append(
            f"C{t} AS (SELECT l.walk_id, l.vertex, l.prev, a.dst AS cand, {wgt} AS wgt\n"
            f"  FROM L{t}_{attempts} l JOIN adj a ON a.src = l.vertex\n"
            f"  LEFT JOIN ded e2 ON e2.src = l.prev AND e2.dst = a.dst)"
        )
        steps.append(
            f"S{t} AS (SELECT *,\n"
            f"  sum(wgt) OVER (PARTITION BY walk_id ORDER BY cand\n"
            f"                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,\n"
            f"  sum(wgt) OVER (PARTITION BY walk_id) AS tot FROM C{t})"
        )
        steps.append(
            f"FB{t} AS (SELECT walk_id, cand AS vertex, vertex AS prev FROM S{t}\n"
            f"  WHERE ({hf} % tot) >= cum - wgt AND ({hf} % tot) < cum)"
        )
        union = " UNION ALL ".join(
            f"SELECT * FROM {nm}" for nm in acc_names + [f"FB{t}"]
        )
        steps.append(
            f"W{t} AS MATERIALIZED (SELECT walk_id, {t}::BIGINT AS step, vertex, prev FROM ({union}))"
        )
    final_union = " UNION ALL ".join(
        ["SELECT walk_id, step, vertex FROM W0"]
        + [f"SELECT walk_id, step, vertex FROM W{t}" for t in range(1, k + 1)]
    )
    return f"""
WITH {EDGES_CTE},
ded AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
adj AS MATERIALIZED (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
               count(*) OVER (PARTITION BY src) AS outdeg FROM ded),
degv AS MATERIALIZED (SELECT src, outdeg FROM adj WHERE idx = 0),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
W0 AS (SELECT id AS walk_id, 0::BIGINT AS step, id AS vertex FROM verts),
{','.join(steps)}
{final_union}
"""


QUERIES["node2vec_rej_k3"] = q_node2vec_rej_k3
ORACLES["node2vec_rej_k3"] = _sql_node2vec_rejection(3, N2V_P, N2V_Q, N2VR_ATTEMPTS)


# ---------------------------------------------------------------------------
# round 4: HITS hubs & authorities
# ---------------------------------------------------------------------------

HITS_ROUNDS = 2


def q_hits_k2(spark, sf_dir):
    """HITS (Kleinberg 1999; algorithms/hits): 2 full authority+hub
    update/L2-normalize rounds — the alternating two-gather superstep
    PageRank doesn't exercise."""
    from fog_spark.algorithms.hits import hits

    edges = cooccur_edges(spark, sf_dir).persist()
    out = hits(edges, niters=HITS_ROUNDS)
    edges.unpersist()
    return out.select(
        "id", F.round("authority", 6).alias("auth_r"), F.round("hub", 6).alias("hub_r")
    )


def _sql_hits(k: int) -> str:
    ctes = [
        EDGES_CTE,
        "verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "h0 AS (SELECT id, 1.0::DOUBLE AS hub FROM verts)",
    ]
    prev_h = "h0"
    for i in range(1, k + 1):
        ctes += [
            f"ar{i} AS (SELECT v.id, coalesce(m.s, 0.0)::DOUBLE AS a_raw FROM verts v "
            f"LEFT JOIN (SELECT e.dst AS id, sum(h.hub) AS s FROM edges e "
            f"JOIN {prev_h} h ON e.src = h.id GROUP BY e.dst) m ON v.id = m.id)",
            f"an{i} AS (SELECT CASE WHEN sqrt(sum(a_raw*a_raw)) > 0 "
            f"THEN sqrt(sum(a_raw*a_raw)) ELSE 1.0 END AS nrm FROM ar{i})",
            f"a{i} AS (SELECT id, a_raw / nrm AS authority FROM ar{i}, an{i})",
            f"hr{i} AS (SELECT v.id, coalesce(m.s, 0.0)::DOUBLE AS h_raw FROM verts v "
            f"LEFT JOIN (SELECT e.src AS id, sum(a.authority) AS s FROM edges e "
            f"JOIN a{i} a ON e.dst = a.id GROUP BY e.src) m ON v.id = m.id)",
            f"hn{i} AS (SELECT CASE WHEN sqrt(sum(h_raw*h_raw)) > 0 "
            f"THEN sqrt(sum(h_raw*h_raw)) ELSE 1.0 END AS nrm FROM hr{i})",
            f"h{i} AS (SELECT id, h_raw / nrm AS hub FROM hr{i}, hn{i})",
        ]
        prev_h = f"h{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a.id, round(a.authority, 6) AS auth_r, round(h.hub, 6) AS hub_r"
        + f"\nFROM a{k} a JOIN h{k} h USING (id)"
    )


QUERIES["hits_k2"] = q_hits_k2
ORACLES["hits_k2"] = _sql_hits(HITS_ROUNDS)


# ---------------------------------------------------------------------------
# round 4: link prediction (common-neighbor scores)
# ---------------------------------------------------------------------------

LP_WEIGHT_MIN, LP_MAX_DEGREE, LP_MIN_COMMON = 9.0, 200, 2


def q_link_prediction(spark, sf_dir):
    """Common-neighbor link prediction (algorithms/linkpred, Liben-
    Nowell & Kleinberg 2003) over the strong-tie subgraph (weight >= 9):
    Jaccard + Adamic-Adar + preferential attachment for non-edge pairs
    sharing >= 2 neighbors, wedge-join generated (never all-pairs),
    hub centers capped at degree 200."""
    from fog_spark.algorithms.linkpred import common_neighbor_scores

    e = cooccur_edges(spark, sf_dir).where(F.col("weight") >= LP_WEIGHT_MIN)
    out = common_neighbor_scores(e, max_degree=LP_MAX_DEGREE, min_common=LP_MIN_COMMON)
    return out.select(
        "a",
        "b",
        F.col("common").cast("long").alias("common"),
        F.round("jaccard", 6).alias("jaccard_r"),
        F.round("adamic_adar", 6).alias("aa_r"),
        F.col("pref_attach").cast("long").alias("pref_attach"),
    )


SQL_LINK_PREDICTION = f"""
WITH {EDGES_CTE},
st AS (SELECT src, dst FROM edges WHERE weight >= {LP_WEIGHT_MIN}),
nsl AS (SELECT src, dst FROM st WHERE src <> dst),
sym AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM nsl UNION ALL SELECT dst, src FROM nsl)),
deg AS (SELECT src AS w, count(*) AS wdeg FROM sym GROUP BY src),
adjw AS (SELECT s.src AS w, d.wdeg, s.dst AS x
         FROM sym s JOIN deg d ON s.src = d.w WHERE d.wdeg <= {LP_MAX_DEGREE}),
wed AS (SELECT l.wdeg, l.x AS a, r.x AS b
        FROM adjw l JOIN adjw r ON l.w = r.w AND l.x < r.x),
sc AS (SELECT a, b, count(*) AS common, sum(1.0 / ln(wdeg)) AS aa
       FROM wed GROUP BY a, b HAVING count(*) >= {LP_MIN_COMMON}),
ex AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst),
cand AS (SELECT sc.* FROM sc LEFT JOIN ex ON sc.a = ex.a AND sc.b = ex.b
         WHERE ex.a IS NULL)
SELECT c.a, c.b, c.common::BIGINT AS common,
       round(c.common::DOUBLE / (da.wdeg + db.wdeg - c.common), 6) AS jaccard_r,
       round(c.aa, 6) AS aa_r,
       (da.wdeg * db.wdeg)::BIGINT AS pref_attach
FROM cand c JOIN deg da ON c.a = da.w JOIN deg db ON c.b = db.w
"""

QUERIES["link_prediction"] = q_link_prediction
ORACLES["link_prediction"] = SQL_LINK_PREDICTION


# ---------------------------------------------------------------------------
# round 4: whole-graph summary statistics
# ---------------------------------------------------------------------------


def q_graph_stats(spark, sf_dir):
    """One-row link-graph summary: vertex/edge counts, degree moments,
    and degree assortativity (Newman 2002) — the Pearson correlation of
    endpoint degrees over the symmetrized simple graph, computed from
    EXACT integer sums (one join + one aggregation; the only floats are
    the final closed-form divisions, so the oracle matches at 6dp)."""
    from fog_spark.engine.superstep import symmetrize

    # one concrete RDD: sym feeds the endpoint join plus two degree
    # references (identical subplans are not deduped, see walks)
    sym = symmetrize(cooccur_edges(spark, sf_dir)).distinct().localCheckpoint(eager=False)
    deg = sym.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("d"))
    e = (
        sym.join(deg.select(F.col("v").alias("src"), F.col("d").alias("dx")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("d").alias("dy")), "dst")
    )
    s = e.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    verts = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.max("d").alias("max_degree"),
        F.sum("d").alias("sum_deg"),
    )
    r_num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    r_den = F.sqrt(F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.crossJoin(verts).select(
        "n_vertices",
        (F.col("m") / 2).cast("long").alias("n_undirected_edges"),
        F.round(F.col("sum_deg") / F.col("n_vertices"), 6).alias("avg_degree_r"),
        F.col("max_degree").cast("long").alias("max_degree"),
        F.round(r_num / r_den, 6).alias("assortativity_r"),
    )


SQL_GRAPH_STATS = f"""
WITH {EDGES_CTE},
nsl AS (SELECT src, dst FROM edges WHERE src <> dst),
sym AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM nsl UNION ALL SELECT dst, src FROM nsl)),
deg AS (SELECT src AS v, count(*) AS d FROM sym GROUP BY src),
e AS (SELECT dx.d AS dx, dy.d AS dy FROM sym
      JOIN deg dx ON sym.src = dx.v JOIN deg dy ON sym.dst = dy.v),
s AS (SELECT count(*)::BIGINT AS m, sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
             sum(dx*dy)::BIGINT AS sxy, sum(dx*dx)::BIGINT AS sxx,
             sum(dy*dy)::BIGINT AS syy FROM e),
v AS (SELECT count(*)::BIGINT AS n_vertices, max(d)::BIGINT AS max_degree,
             sum(d)::BIGINT AS sum_deg FROM deg)
SELECT v.n_vertices,
       (s.m // 2)::BIGINT AS n_undirected_edges,
       round(v.sum_deg::DOUBLE / v.n_vertices, 6) AS avg_degree_r,
       v.max_degree,
       round((s.m * s.sxy - s.sx * s.sy)::DOUBLE
             / (sqrt((s.m * s.sxx - s.sx * s.sx)::DOUBLE)
                * sqrt((s.m * s.syy - s.sy * s.sy)::DOUBLE)), 6) AS assortativity_r
FROM s, v
"""

QUERIES["graph_stats"] = q_graph_stats
ORACLES["graph_stats"] = SQL_GRAPH_STATS


# ---------------------------------------------------------------------------
# round 4: multi-source BFS (landmark distances)
# ---------------------------------------------------------------------------

MSBFS_ROOTS = (0, 1, 2, 97)
MSBFS_CAP = 30  # oracle recursion bound; >> graph diameter at test scale


def q_msbfs(spark, sf_dir):
    """Landmark distances (algorithms/msbfs.multi_source_bfs): all four
    roots in ONE sparse frontier loop, run to convergence; output only
    reached (id, root, dist) triples."""
    from fog_spark.algorithms.msbfs import multi_source_bfs

    edges = cooccur_edges(spark, sf_dir).persist()
    out = multi_source_bfs(edges, list(MSBFS_ROOTS))
    edges.unpersist()
    return out


SQL_MSBFS = f"""
WITH RECURSIVE {EDGES_CTE},
nsl AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst),
r AS (
  SELECT root::BIGINT AS id, root::BIGINT AS root, 0 AS dist
  FROM (VALUES {", ".join(f"({r})" for r in MSBFS_ROOTS)}) t(root)
  UNION
  SELECT e.dst AS id, r.root, r.dist + 1 AS dist
  FROM r JOIN nsl e ON e.src = r.id WHERE r.dist < {MSBFS_CAP}
)
SELECT id, root, min(dist)::BIGINT AS dist FROM r GROUP BY id, root
"""

QUERIES["msbfs"] = q_msbfs
ORACLES["msbfs"] = SQL_MSBFS


# ---------------------------------------------------------------------------
# round 4: weighted random walks (edge-weight-proportional, rejection)
# ---------------------------------------------------------------------------

WW_ATTEMPTS, WW_SCALE = 2, 10


def q_weighted_walks_k3(spark, sf_dir):
    """Edge-weight-proportional walk corpus (walks.weighted_random_walks):
    P(v->x) ∝ weight(v,x), rejection-sampled against the global max
    integer weight with the exact cumulative fallback; every draw,
    accept bit, and fallback replayed by the oracle. weight*10 is an
    exact integer on this table (one-decimal fixed point)."""
    from fog_spark.algorithms.walks import weighted_random_walks

    out = weighted_random_walks(
        cooccur_edges(spark, sf_dir), length=3, weight_scale=WW_SCALE,
        seed=42, attempts=WW_ATTEMPTS,
    )
    return out.select("walk_id", F.col("step").cast("long").alias("step"), "vertex")


def _sql_weighted_walks(k: int, attempts: int, seed: int = 42, scale: int = 10) -> str:
    steps = []
    for t in range(1, k + 1):
        steps.append(f"L{t}_0 AS (SELECT walk_id, vertex FROM W{t-1})")
        acc_names = []
        for a in range(attempts):
            hc = _hex8_sql(f"md5(l.walk_id::VARCHAR || '-{t}:{a}:c-{seed}')")
            hr = _hex8_sql(f"md5(l.walk_id::VARCHAR || '-{t}:{a}:r-{seed}')")
            # MATERIALIZED: D{t}_{a} is referenced twice (A and the next L)
            # — inlined, the chain re-executes upstream 2^depth times
            steps.append(
                f"D{t}_{a} AS MATERIALIZED (SELECT l.walk_id, l.vertex, a2.dst AS cand, a2.w,\n"
                f"  ({hr} % wm.m) AS acc\n"
                f"  FROM L{t}_{a} l JOIN degv dv ON dv.src = l.vertex\n"
                f"  JOIN adj a2 ON a2.src = l.vertex AND a2.idx = ({hc} % dv.outdeg), wmax wm)"
            )
            steps.append(
                f"A{t}_{a} AS (SELECT walk_id, cand AS vertex FROM D{t}_{a} WHERE acc < w)"
            )
            steps.append(
                f"L{t}_{a + 1} AS (SELECT walk_id, vertex FROM D{t}_{a} WHERE acc >= w)"
            )
            acc_names.append(f"A{t}_{a}")
        hf = _hex8_sql(f"md5(l.walk_id::VARCHAR || '-{t}:f-{seed}')")
        steps.append(
            f"FB{t} AS (SELECT l.walk_id, a2.dst AS vertex\n"
            f"  FROM L{t}_{attempts} l JOIN adj a2 ON a2.src = l.vertex\n"
            f"  WHERE ({hf} % a2.tot) >= a2.cum - a2.w AND ({hf} % a2.tot) < a2.cum)"
        )
        union = " UNION ALL ".join(f"SELECT * FROM {nm}" for nm in acc_names + [f"FB{t}"])
        steps.append(
            f"W{t} AS MATERIALIZED (SELECT walk_id, {t}::BIGINT AS step, vertex FROM ({union}))"
        )
    final_union = " UNION ALL ".join(
        ["SELECT walk_id, step, vertex FROM W0"]
        + [f"SELECT walk_id, step, vertex FROM W{t}" for t in range(1, k + 1)]
    )
    return f"""
WITH {EDGES_CTE},
ew AS MATERIALIZED (SELECT src, dst, max(round(weight * {scale})::BIGINT) AS w
       FROM edges WHERE src <> dst GROUP BY src, dst),
adj AS MATERIALIZED (SELECT src, dst, w,
        row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
        count(*) OVER (PARTITION BY src) AS outdeg,
        sum(w) OVER (PARTITION BY src ORDER BY dst
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(w) OVER (PARTITION BY src) AS tot
        FROM ew),
wmax AS MATERIALIZED (SELECT max(w) AS m FROM adj),
degv AS MATERIALIZED (SELECT src, outdeg FROM adj WHERE idx = 0),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
W0 AS (SELECT id AS walk_id, 0::BIGINT AS step, id AS vertex FROM verts),
{','.join(steps)}
{final_union}
"""


QUERIES["weighted_walks_k3"] = q_weighted_walks_k3
ORACLES["weighted_walks_k3"] = _sql_weighted_walks(3, WW_ATTEMPTS)


def q_harmonic_landmarks(spark, sf_dir):
    """Landmark-estimated harmonic centrality: sum over reached
    landmarks of 1/dist (self-pairs excluded) — the standard sampled
    estimator (Boldi & Vigna 2014), composed directly from
    multi_source_bfs; exact integer dists so the float sum matches the
    oracle at 6dp."""
    from fog_spark.algorithms.msbfs import multi_source_bfs

    edges = cooccur_edges(spark, sf_dir).persist()
    d = multi_source_bfs(edges, list(MSBFS_ROOTS))
    edges.unpersist()
    return (
        d.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_landmarks"),
            F.round(F.sum(1.0 / F.col("dist")), 6).alias("harmonic_r"),
        )
    )


# reuses the msbfs recursion, folding min-dist into the harmonic sum
SQL_HARMONIC_LANDMARKS = SQL_MSBFS.replace(
    "SELECT id, root, min(dist)::BIGINT AS dist FROM r GROUP BY id, root",
    """, d AS (SELECT id, root, min(dist) AS dist FROM r GROUP BY id, root)
SELECT id, count(*)::BIGINT AS n_landmarks,
       round(sum(1.0 / dist), 6) AS harmonic_r
FROM d WHERE dist > 0 GROUP BY id""",
)

QUERIES["harmonic_landmarks"] = q_harmonic_landmarks
ORACLES["harmonic_landmarks"] = SQL_HARMONIC_LANDMARKS


# ---------------------------------------------------------------------------
# round 4: weighted PageRank (edge-weight-proportional transitions)
# ---------------------------------------------------------------------------

WPR_ROUNDS = 3


def q_pagerank_weighted_k3(spark, sf_dir):
    """Edge-weight-proportional PageRank (pagerank_weighted), exactly 3
    supersteps (tol=0 fixed-depth form; convergence is numpy-oracled in
    pytest). The co-occurrence weight column drives the transition
    probabilities."""
    from fog_spark.algorithms.pagerank import pagerank_weighted

    edges = cooccur_edges(spark, sf_dir).persist()
    ranks, _ = pagerank_weighted(edges, tol=0.0, max_iters=WPR_ROUNDS)
    edges.unpersist()
    return ranks.select("id", F.round("rank", 8).alias("rank_r"))


def _sql_pagerank_weighted(k: int) -> str:
    ctes = [
        EDGES_CTE,
        "e AS (SELECT src, dst, weight AS w FROM edges WHERE weight > 0)",
        "ws AS (SELECT src, sum(w) AS wsum FROM e GROUP BY src)",
        "pe AS (SELECT e.src, e.dst, e.w / ws.wsum AS p FROM e JOIN ws USING (src))",
        "verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "vd AS (SELECT v.id, (ws.src IS NOT NULL) AS has_out FROM verts v LEFT JOIN ws ON v.id = ws.src)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM verts)",
        "r0 AS MATERIALIZED (SELECT vd.id, vd.has_out, 1.0::DOUBLE / nn.n AS rank FROM vd, nn)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"d{i} AS (SELECT coalesce(sum(rank), 0.0)::DOUBLE AS dang FROM r{i-1} WHERE NOT has_out)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT r.id, r.has_out, "
            f"(1.0::DOUBLE - 0.85::DOUBLE) / nn.n "
            f"+ 0.85::DOUBLE * (coalesce(m.s, 0.0::DOUBLE) + d.dang / nn.n) AS rank "
            f"FROM r{i-1} r LEFT JOIN (SELECT pe.dst, sum(r.rank * pe.p) AS s "
            f"FROM pe JOIN r{i-1} r ON pe.src = r.id GROUP BY pe.dst) m ON r.id = m.dst, "
            f"d{i} d, nn)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(rank, 8) AS rank_r FROM r{k}"


QUERIES["pagerank_weighted_k3"] = q_pagerank_weighted_k3
ORACLES["pagerank_weighted_k3"] = _sql_pagerank_weighted(WPR_ROUNDS)


# ---------------------------------------------------------------------------
# round 5: minimum spanning forest (Borůvka) — closes reference TODO.list:17-18
# ---------------------------------------------------------------------------

MSF_SQL_ROUNDS = 8  # sf0.01 converges in 6 Borůvka rounds; extras are no-ops


def q_msf(spark, sf_dir):
    """Minimum spanning forest of the co-occurrence link graph
    (algorithms/msf.minimum_spanning_forest, Borůvka supersteps, unique
    under the total edge order (w, a, b)). Output: the forest edge set."""
    from fog_spark.algorithms.msf import minimum_spanning_forest

    return minimum_spanning_forest(cooccur_edges(spark, sf_dir))


def _sql_msf(rounds: int) -> str:
    """Borůvka unrolled ``rounds`` times in SQL: per round, each
    component's min cross edge by (w, a, b) via row_number, then the
    contraction closure over the picked component graph as a recursive
    CTE with the relay-pruning rule (lab < d). Labels are min-ids where
    the engine uses pointer roots — the FOREST is label-independent, so
    the replay is exact."""
    ctes = [
        EDGES_CTE,
        "ecan AS MATERIALIZED (SELECT least(src, dst) AS a, greatest(src, dst) AS b, "
        "min(weight) AS w FROM edges GROUP BY 1, 2)",
        "comp0 AS MATERIALIZED (SELECT id, id AS comp FROM "
        "(SELECT src AS id FROM edges UNION SELECT dst FROM edges))",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes += [
            f"cross{i} AS MATERIALIZED (SELECT e.a, e.b, e.w, x.comp AS ca, y.comp AS cb "
            f"FROM ecan e JOIN comp{p} x ON e.a = x.id JOIN comp{p} y ON e.b = y.id "
            f"WHERE x.comp <> y.comp)",
            f"off{i} AS (SELECT ca AS c, w, a, b, ca, cb FROM cross{i} "
            f"UNION ALL SELECT cb, w, a, b, ca, cb FROM cross{i})",
            f"pick{i} AS MATERIALIZED (SELECT DISTINCT w, a, b, ca, cb FROM "
            f"(SELECT c, w, a, b, ca, cb, row_number() OVER "
            f"(PARTITION BY c ORDER BY w, a, b) AS rn FROM off{i}) WHERE rn = 1)",
            f"sym{i} AS (SELECT ca AS s, cb AS d FROM pick{i} "
            f"UNION SELECT cb, ca FROM pick{i})",
            f"r{i} AS (SELECT s AS id, s AS lab FROM sym{i} "
            f"UNION SELECT g.d, r.lab FROM r{i} r JOIN sym{i} g ON g.s = r.id "
            f"WHERE r.lab < g.d)",
            f"lab{i} AS MATERIALIZED (SELECT id, min(lab) AS lab FROM r{i} GROUP BY id)",
            f"comp{i} AS MATERIALIZED (SELECT c.id, coalesce(l.lab, c.comp) AS comp "
            f"FROM comp{p} c LEFT JOIN lab{i} l ON c.comp = l.id)",
        ]
    forest = " UNION ALL ".join(f"SELECT a, b, w FROM pick{i}" for i in range(1, rounds + 1))
    return "WITH RECURSIVE " + ",\n".join(ctes) + f"\n{forest}"


QUERIES["msf"] = q_msf
ORACLES["msf"] = _sql_msf(MSF_SQL_ROUNDS)


# ---------------------------------------------------------------------------
# round 5: community quality (modularity) + Louvain synchronous local moves
# ---------------------------------------------------------------------------

LOUVAIN_ROUNDS = 2


def q_modularity(spark, sf_dir):
    """Newman modularity of the lpa_k2 labeling over the co-occurrence
    link graph (algorithms/community.modularity): exact integer sums,
    one float at the end — the community-quality score LPA itself never
    reports."""
    from fog_spark.algorithms.community import modularity

    edges = cooccur_edges(spark, sf_dir).select("src", "dst")
    return modularity(edges, q_lpa_k2(spark, sf_dir))


def _sql_modularity(k: int) -> str:
    ctes = _lpa_ctes(k) + [
        "deg AS MATERIALIZED (SELECT src AS id, count(*)::BIGINT AS k "
        "FROM edges GROUP BY src)",
        f"i AS (SELECT count(*)::BIGINT AS m2, "
        f"sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END)::BIGINT AS intra2 "
        f"FROM edges e JOIN l{k} la ON e.src = la.id JOIN l{k} lb ON e.dst = lb.id)",
        f"pc AS (SELECT l.label, sum(d.k)::BIGINT AS dc "
        f"FROM deg d JOIN l{k} l ON d.id = l.id GROUP BY l.label)",
        "s AS (SELECT count(*)::BIGINT AS n_communities, "
        "sum(dc * dc)::BIGINT AS sum_dc2 FROM pc)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT s.n_communities,
       (i.m2 // 2)::BIGINT AS n_undirected_edges,
       (i.intra2 // 2)::BIGINT AS intra_edges,
       round((i.m2 * i.intra2 - s.sum_dc2)::DOUBLE / (i.m2::DOUBLE * i.m2::DOUBLE), 6)
         AS modularity_r
FROM i, s"""
    )


QUERIES["modularity"] = q_modularity
ORACLES["modularity"] = _sql_modularity(LPA_ROUNDS)


def q_louvain_move2(spark, sf_dir):
    """Two synchronous Louvain local-move rounds from a singleton start
    (algorithms/community.louvain_local_move): deterministic argmax of
    the integer-scaled modularity gain, ties to the smallest community
    label — exactly replayed by the unrolled oracle."""
    from fog_spark.algorithms.community import louvain_local_move

    edges = cooccur_edges(spark, sf_dir).select("src", "dst")
    return louvain_local_move(edges, rounds=LOUVAIN_ROUNDS)


def _sql_louvain(rounds: int) -> str:
    ctes = [
        EDGES_CTE,
        "deg AS MATERIALIZED (SELECT src AS id, count(*)::BIGINT AS k "
        "FROM edges GROUP BY src)",
        "m AS (SELECT count(*)::BIGINT AS m2 FROM edges)",
        "s0 AS MATERIALIZED (SELECT id, id AS label FROM deg)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes += [
            f"dc{i} AS MATERIALIZED (SELECT s.label, sum(d.k)::BIGINT AS dc "
            f"FROM s{p} s JOIN deg d ON s.id = d.id GROUP BY s.label)",
            f"k2_{i} AS MATERIALIZED (SELECT e.src AS id, l.label AS c, "
            f"count(*)::BIGINT AS k2 FROM edges e JOIN s{p} l ON e.dst = l.id "
            f"GROUP BY e.src, l.label)",
            f"cand{i} AS (SELECT id, c, max(k2) AS k2 FROM ("
            f"SELECT id, c, k2 FROM k2_{i} "
            f"UNION ALL SELECT id, label AS c, 0::BIGINT FROM s{p}) GROUP BY id, c)",
            f"sc{i} AS MATERIALIZED (SELECT t.id, t.c, "
            f"(m.m2 * t.k2 - d.k * (dc.dc - CASE WHEN t.c = s.label THEN d.k ELSE 0 END)) AS gain2 "
            f"FROM cand{i} t JOIN dc{i} dc ON t.c = dc.label "
            f"JOIN deg d ON t.id = d.id JOIN s{p} s ON t.id = s.id, m)",
            f"s{i} AS MATERIALIZED (SELECT id, c AS label FROM ("
            f"SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY gain2 DESC, c ASC) AS rn "
            f"FROM sc{i}) WHERE rn = 1)",
        ]
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM s{rounds}"


QUERIES["louvain_move2"] = q_louvain_move2
ORACLES["louvain_move2"] = _sql_louvain(LOUVAIN_ROUNDS)


# ---------------------------------------------------------------------------
# round 5: sampled betweenness centrality (Brandes pivots, k-bounded)
# ---------------------------------------------------------------------------

BC_ROOTS = MSBFS_ROOTS
BC_DEPTH = 4  # >= graph diameter at test scale, so the bound is inert there


def q_betweenness_d4(spark, sf_dir):
    """Pivot-sampled betweenness (algorithms/betweenness): Brandes
    forward sigma + backward dependency passes from the four landmark
    roots, depth-bounded at 4, scaled by n/k (Brandes & Pich 2007
    estimator). bc_r rounds to 4dp: the n/k multiplier amplifies
    cross-engine float-sum jitter past 6dp."""
    from fog_spark.algorithms.betweenness import betweenness_sampled
    from fog_spark.engine.superstep import vertices_of

    edges = cooccur_edges(spark, sf_dir).persist()
    d = betweenness_sampled(edges, list(BC_ROOTS), max_depth=BC_DEPTH, assume_simple=True)
    n = vertices_of(edges).count()
    edges.unpersist()
    return (
        d.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("nr"),
            F.round(F.lit(float(n) / len(BC_ROOTS)) * F.sum("delta"), 4).alias("bc_r"),
        )
    )


def _sql_betweenness(k_depth: int, roots: tuple) -> str:
    vals = ", ".join(f"({r})" for r in roots)
    ctes = [
        EDGES_CTE,
        "nsl AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst)",
        f"A0 AS MATERIALIZED (SELECT root::BIGINT AS id, root::BIGINT AS root, "
        f"0 AS dist, 1.0::DOUBLE AS sigma FROM (VALUES {vals}) t(root))",
    ]
    for t in range(1, k_depth + 1):
        ctes += [
            # level t = first-reached now; sigma sums the predecessors'
            f"N{t} AS MATERIALIZED (SELECT e.dst AS id, a.root, {t} AS dist, "
            f"sum(a.sigma) AS sigma FROM A{t-1} a JOIN nsl e ON e.src = a.id "
            f"WHERE a.dist = {t-1} AND NOT EXISTS "
            f"(SELECT 1 FROM A{t-1} p WHERE p.id = e.dst AND p.root = a.root) "
            f"GROUP BY e.dst, a.root)",
            f"A{t} AS MATERIALIZED (SELECT * FROM A{t-1} UNION ALL SELECT * FROM N{t})",
        ]
    ctes.append(
        f"D{k_depth} AS MATERIALIZED (SELECT id, root, dist, sigma, 0.0::DOUBLE AS delta "
        f"FROM A{k_depth} WHERE dist = {k_depth})"
    )
    for lev in range(k_depth - 1, 0, -1):
        ctes += [
            # dependency flowing from the (already-final) level lev+1
            f"C{lev} AS (SELECT v.id, v.root, sum(v.sigma / w.sigma * (1 + w.delta)) AS d "
            f"FROM A{k_depth} v JOIN nsl e ON e.src = v.id "
            f"JOIN D{lev+1} w ON w.id = e.dst AND w.root = v.root "
            f"WHERE v.dist = {lev} GROUP BY v.id, v.root)",
            f"D{lev} AS MATERIALIZED (SELECT v.id, v.root, v.dist, v.sigma, "
            f"coalesce(c.d, 0.0) AS delta "
            f"FROM (SELECT * FROM A{k_depth} WHERE dist = {lev}) v "
            f"LEFT JOIN C{lev} c ON c.id = v.id AND c.root = v.root)",
        ]
    ctes.append(
        "verts AS (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges))"
    )
    ctes.append("nv AS (SELECT count(*)::DOUBLE AS n FROM verts)")
    all_d = " UNION ALL ".join(f"SELECT * FROM D{lev}" for lev in range(1, k_depth + 1))
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT t.id, count(*)::BIGINT AS nr, "
        f"round(nv.n / {len(roots)} * sum(t.delta), 4) AS bc_r "
        f"FROM ({all_d}) t, nv GROUP BY t.id, nv.n"
    )


QUERIES["betweenness_d4"] = q_betweenness_d4
ORACLES["betweenness_d4"] = _sql_betweenness(BC_DEPTH, BC_ROOTS)


# ---------------------------------------------------------------------------
# round 5: k-truss (support peeling, fixed-round oracle form)
# ---------------------------------------------------------------------------

KTRUSS_K, KTRUSS_ROUNDS = 4, 2


def q_ktruss4_r2(spark, sf_dir):
    """k-truss support peel (algorithms/ktruss.k_truss), k=4, exactly 2
    rounds — the fixed-depth form the unrolled oracle replays (full
    convergence is pytest-oracled against a Python peeler). Support
    is triangles.edge_support, the library's degree-ordered triangle
    stream, re-derived per round from the surviving edges."""
    from fog_spark.algorithms.ktruss import k_truss

    return k_truss(cooccur_edges(spark, sf_dir), k=KTRUSS_K, rounds=KTRUSS_ROUNDS)


def _sql_ktruss(k: int, rounds: int) -> str:
    ctes = [
        EDGES_CTE,
        "u0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
        "greatest(src, dst) AS b FROM edges WHERE src <> dst)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes += [
            f"d{i} AS MATERIALIZED (SELECT v, count(*) AS deg FROM "
            f"(SELECT a AS v FROM u{p} UNION ALL SELECT b FROM u{p}) GROUP BY v)",
            # degree-ordered orientation (ties by id) of the survivors
            f"o{i} AS MATERIALIZED (SELECT "
            f"CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b) "
            f"THEN u.a ELSE u.b END AS lo, "
            f"CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b) "
            f"THEN u.b ELSE u.a END AS hi "
            f"FROM u{p} u JOIN d{i} da ON u.a = da.v JOIN d{i} db ON u.b = db.v)",
            f"t{i} AS MATERIALIZED (SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z "
            f"FROM o{i} e1 JOIN o{i} e2 ON e2.lo = e1.hi "
            f"JOIN o{i} e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)",
            f"s{i} AS MATERIALIZED (SELECT a, b, count(*) AS sup FROM ("
            f"SELECT least(x, y) AS a, greatest(x, y) AS b FROM t{i} "
            f"UNION ALL SELECT least(y, z), greatest(y, z) FROM t{i} "
            f"UNION ALL SELECT least(x, z), greatest(x, z) FROM t{i}) GROUP BY a, b)",
            f"u{i} AS MATERIALIZED (SELECT u.a, u.b FROM u{p} u "
            f"LEFT JOIN s{i} s ON s.a = u.a AND s.b = u.b "
            f"WHERE coalesce(s.sup, 0) >= {k - 2})",
        ]
    return "WITH " + ",\n".join(ctes) + f"\nSELECT a, b FROM u{rounds}"


QUERIES["ktruss4_r2"] = q_ktruss4_r2
ORACLES["ktruss4_r2"] = _sql_ktruss(KTRUSS_K, KTRUSS_ROUNDS)


# ---------------------------------------------------------------------------
# round 5: full core decomposition (h-index iteration, fixed-round form)
# ---------------------------------------------------------------------------

CORENESS_ROUNDS = 3


def q_coreness_r3(spark, sf_dir):
    """Coreness upper bounds after exactly 3 h-index refinements
    (algorithms/coreness; Montresor et al. 2011) — the fixed-depth form
    the unrolled oracle replays; full convergence to exact coreness is
    pytest-oracled against the Batagelj-Zaversnik peel."""
    from fog_spark.algorithms.coreness import coreness

    return coreness(cooccur_edges(spark, sf_dir), rounds=CORENESS_ROUNDS)


def _sql_coreness(rounds: int) -> str:
    ctes = [
        EDGES_CTE,
        "sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        "SELECT src, dst FROM edges WHERE src <> dst "
        "UNION ALL SELECT dst, src FROM edges WHERE src <> dst))",
        "c0 AS MATERIALIZED (SELECT src AS id, count(*)::BIGINT AS c FROM sym GROUP BY src)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes += [
            f"m{i} AS (SELECT s.dst AS id, c.c FROM sym s JOIN c{p} c ON c.id = s.src)",
            # h-index: max over the descending rank of least(value, rank)
            f"c{i} AS MATERIALIZED (SELECT id, max(least(c, rn))::BIGINT AS c FROM "
            f"(SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY c DESC) AS rn "
            f"FROM m{i}) GROUP BY id)",
        ]
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, c AS coreness FROM c{rounds}"


QUERIES["coreness_r3"] = q_coreness_r3
ORACLES["coreness_r3"] = _sql_coreness(CORENESS_ROUNDS)


# ---------------------------------------------------------------------------
# round 5: diameter lower bound by double sweep (iFUB stage 1)
# ---------------------------------------------------------------------------


def q_diameter_sweep(spark, sf_dir):
    """Double-sweep diameter lower bound (the iFUB starting heuristic,
    Crescenzi et al. 2013): BFS from the min-id vertex, hop to the
    farthest vertex (ties to min id), BFS again — the second
    eccentricity lower-bounds the true diameter and is exact on trees.
    Composed from multi_source_bfs; the two argmax hops are 1-row
    driver-scale collects."""
    from fog_spark.algorithms.msbfs import multi_source_bfs
    from fog_spark.engine.superstep import vertices_of

    edges = cooccur_edges(spark, sf_dir).persist()
    v0 = int(vertices_of(edges).agg(F.min("id")).collect()[0][0])
    d1 = multi_source_bfs(edges, [v0])
    far = d1.orderBy(F.col("dist").desc(), F.col("id").asc()).select("id", "dist").first()
    d2 = multi_source_bfs(edges, [int(far["id"])])
    ecc2 = int(d2.agg(F.max("dist")).collect()[0][0])
    edges.unpersist()
    return spark.createDataFrame(
        [(v0, int(far["id"]), int(far["dist"]), ecc2)],
        "start_id long, far_id long, ecc_start long, diameter_lb long",
    )


DIAM_CAP = 30

SQL_DIAMETER_SWEEP = f"""
WITH RECURSIVE {EDGES_CTE},
nsl AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
r0 AS (SELECT min(id) AS id FROM verts),
r1 AS (
  SELECT id, 0 AS dist FROM r0
  UNION
  SELECT e.dst AS id, r.dist + 1 AS dist FROM r1 r JOIN nsl e ON e.src = r.id
  WHERE r.dist < {DIAM_CAP}
),
d1 AS (SELECT id, min(dist) AS dist FROM r1 GROUP BY id),
far AS (SELECT id, dist FROM d1 ORDER BY dist DESC, id ASC LIMIT 1),
r2 AS (
  SELECT id, 0 AS dist FROM (SELECT id FROM far)
  UNION
  SELECT e.dst AS id, r.dist + 1 AS dist FROM r2 r JOIN nsl e ON e.src = r.id
  WHERE r.dist < {DIAM_CAP}
),
d2 AS (SELECT id, min(dist) AS dist FROM r2 GROUP BY id)
SELECT (SELECT id FROM r0)::BIGINT AS start_id,
       far.id::BIGINT AS far_id,
       far.dist::BIGINT AS ecc_start,
       (SELECT max(dist) FROM d2)::BIGINT AS diameter_lb
FROM far
"""

QUERIES["diameter_sweep"] = q_diameter_sweep
ORACLES["diameter_sweep"] = SQL_DIAMETER_SWEEP


# ---------------------------------------------------------------------------
# round 5: approximate neighborhood function (ANF / HyperBall with KMV)
# ---------------------------------------------------------------------------

ANF_K = 16
ANF_RADIUS = 3


def q_anf_ball3(spark, sf_dir):
    """Per-vertex out-ball size |B(v, 3)| on the order-chain directed
    graph, estimated by HyperBall-style sketch propagation
    (algorithms/anf.py) with the deterministic KMV bottom-k sketch
    (k=16). The oracle computes the EXACT ball membership by a 3-round
    unrolled closure, applies the identical md5 bottom-k rule, and
    matches every estimate bit-for-bit."""
    from fog_spark.algorithms.anf import neighborhood_function

    out = neighborhood_function(
        directed_edges(spark, sf_dir), radius=ANF_RADIUS, k=ANF_K
    )
    return out.select(
        "id", "n_seen", F.round("estimate", 6).alias("est_r")
    )


def _sql_anf(radius: int, k: int) -> str:
    balls = []
    for r in range(1, radius + 1):
        balls.append(
            f"b{r} AS MATERIALIZED (SELECT DISTINCT v, m FROM (\n"
            f"  SELECT v, m FROM b{r-1}\n"
            f"  UNION ALL\n"
            f"  SELECT e.src AS v, b.m FROM dedges e JOIN b{r-1} b ON b.v = e.dst))"
        )
    hv = _hex_fold_sql("md5(m::VARCHAR)", 13)
    return f"""
WITH {DEDGES_CTE},
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM dedges UNION ALL SELECT dst FROM dedges)),
b0 AS (SELECT id AS v, id AS m FROM verts),
{','.join(balls)},
h AS (SELECT v, {hv} + 1 AS hv FROM b{radius}),
r AS (SELECT v, hv, row_number() OVER (PARTITION BY v ORDER BY hv) AS rk,
             count(*) OVER (PARTITION BY v) AS nd FROM h),
s AS (SELECT * FROM r WHERE rk = least(nd, {k}))
SELECT v AS id, least(nd, {k})::BIGINT AS n_seen,
       round(CASE WHEN nd < {k} THEN nd::DOUBLE
                  ELSE {k - 1}.0 / (hv / {float(2 ** 52)!r}) END, 6) AS est_r
FROM s
"""


QUERIES["anf_ball3"] = q_anf_ball3
ORACLES["anf_ball3"] = _sql_anf(ANF_RADIUS, ANF_K)


# ---------------------------------------------------------------------------
# round 5: SALSA (stochastic hubs & authorities)
# ---------------------------------------------------------------------------

SALSA_ITERS = 2


def q_salsa_k2(spark, sf_dir):
    """SALSA on the order-chain directed graph, 2 backward/forward
    rounds (algorithms/salsa.py). Column-stochastic updates conserve
    mass, so unlike hits_k2 the oracle needs no norm scalars — just
    the two degree-normalized gathers unrolled."""
    from fog_spark.algorithms.salsa import salsa

    out = salsa(directed_edges(spark, sf_dir), niters=SALSA_ITERS)
    return out.select(
        "id",
        F.round("authority", 9).alias("auth_r"),
        F.round("hub", 9).alias("hub_r"),
    )


def _sql_salsa(k: int) -> str:
    steps = []
    prev_a = "a0"
    for t in range(1, k + 1):
        steps.append(
            f"h{t} AS MATERIALIZED (SELECT e.src AS id, sum(a.a / i.ind) AS h\n"
            f"  FROM dedges e JOIN ind i ON i.dst = e.dst\n"
            f"  JOIN {prev_a} a ON a.id = e.dst GROUP BY e.src)"
        )
        steps.append(
            f"a{t} AS MATERIALIZED (SELECT e.dst AS id, sum(h.h / o.od) AS a\n"
            f"  FROM dedges e JOIN od o ON o.src = e.src\n"
            f"  JOIN h{t} h ON h.id = e.src GROUP BY e.dst)"
        )
        prev_a = f"a{t}"
    return f"""
WITH {DEDGES_CTE},
ind AS MATERIALIZED (SELECT dst, count(*) AS ind FROM dedges GROUP BY dst),
od AS MATERIALIZED (SELECT src, count(*) AS od FROM dedges GROUP BY src),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM dedges UNION ALL SELECT dst FROM dedges)),
a0 AS (SELECT dst AS id, 1.0 / (SELECT count(*) FROM ind) AS a FROM ind),
{','.join(steps)}
SELECT v.id,
       round(coalesce(a{k}.a, 0.0), 9) AS auth_r,
       round(coalesce(h{k}.h, 0.0), 9) AS hub_r
FROM verts v
LEFT JOIN a{k} ON a{k}.id = v.id
LEFT JOIN h{k} ON h{k}.id = v.id
"""


QUERIES["salsa_k2"] = q_salsa_k2
ORACLES["salsa_k2"] = _sql_salsa(SALSA_ITERS)


# ---------------------------------------------------------------------------
# round 5: co-citation & bibliographic coupling
# ---------------------------------------------------------------------------


def q_cocitation(spark, sf_dir):
    """Co-citation / bibliographic-coupling pair counts on the
    order-chain directed graph (algorithms/linkpred.cocitation_coupling)
    — the classic citation-graph pair measures, generated through the
    shared-center wedge join (never all-pairs)."""
    from fog_spark.algorithms.linkpred import cocitation_coupling

    return cocitation_coupling(directed_edges(spark, sf_dir)).select(
        "a", "b",
        F.col("cocited").cast("long").alias("cocited"),
        F.col("coupled").cast("long").alias("coupled"),
    )


SQL_COCITATION = f"""
WITH {DEDGES_CTE},
co AS (SELECT x.dst AS a, y.dst AS b, count(*) AS cocited
       FROM dedges x JOIN dedges y ON x.src = y.src AND x.dst < y.dst
       GROUP BY 1, 2),
cp AS (SELECT x.src AS a, y.src AS b, count(*) AS coupled
       FROM dedges x JOIN dedges y ON x.dst = y.dst AND x.src < y.src
       GROUP BY 1, 2)
SELECT coalesce(co.a, cp.a) AS a, coalesce(co.b, cp.b) AS b,
       coalesce(cocited, 0)::BIGINT AS cocited,
       coalesce(coupled, 0)::BIGINT AS coupled
FROM co FULL OUTER JOIN cp ON co.a = cp.a AND co.b = cp.b
"""

QUERIES["cocitation"] = q_cocitation
ORACLES["cocitation"] = SQL_COCITATION


# ---------------------------------------------------------------------------
# round 5: densest subgraph by (1+eps)-greedy peeling
# ---------------------------------------------------------------------------

DS_ROUNDS = 4
DS_EPS_NUM, DS_EPS_DEN = 3, 10  # eps = 0.3; peel if 10*deg*nv <= 13*sd


def q_densest_peel(spark, sf_dir):
    """Densest-subgraph peeling (algorithms/densest.py) on the part
    co-occurrence graph: 4 fixed rounds, eps=3/10. Output is the full
    peel trajectory — (id, removed_round, in_densest) where in_densest
    marks membership of the densest examined prefix. Thresholds and the
    best-round argmax are exact integer arithmetic, so the oracle
    replays every removal decision."""
    from fog_spark.algorithms.densest import densest_subgraph

    res = densest_subgraph(
        cooccur_edges(spark, sf_dir),
        eps_num=DS_EPS_NUM, eps_den=DS_EPS_DEN, max_rounds=DS_ROUNDS,
    )
    return res.rounds.select(
        "id",
        F.col("removed_round").cast("long").alias("removed_round"),
        (F.col("removed_round") >= res.best_round).cast("int").alias("in_densest"),
    )


def _sql_densest(rounds: int, num: int, den: int) -> str:
    thr_mul, sd_mul = den, den + num
    parts = []
    for t in range(1, rounds + 1):
        parts.append(
            f"e{t} AS MATERIALIZED (SELECT e.src, e.dst FROM sedges e\n"
            f"  JOIN alive{t} a ON a.id = e.src JOIN alive{t} b ON b.id = e.dst)"
        )
        parts.append(
            f"d{t} AS MATERIALIZED (SELECT a.id, count(x.src) AS deg\n"
            f"  FROM alive{t} a LEFT JOIN e{t} x ON x.src = a.id GROUP BY a.id)"
        )
        parts.append(f"r{t} AS (SELECT sum(deg) AS sd, count(*) AS nv FROM d{t})")
        parts.append(
            f"x{t} AS (SELECT d.id, d.deg, r.sd, r.nv FROM d{t} d CROSS JOIN r{t} r)"
        )
        parts.append(
            f"rm{t} AS (SELECT id, {t} AS removed_round FROM x{t}\n"
            f"  WHERE {thr_mul}*deg*nv <= {sd_mul}*sd)"
        )
        parts.append(
            f"alive{t + 1} AS (SELECT id FROM x{t} WHERE {thr_mul}*deg*nv > {sd_mul}*sd)"
        )
    rounds_union = " UNION ALL ".join(
        f"SELECT {t} AS t, sd, nv FROM r{t} WHERE nv > 0" for t in range(1, rounds + 1)
    )
    rm_union = " UNION ALL ".join(
        [f"SELECT id, removed_round FROM rm{t}" for t in range(1, rounds + 1)]
        + [f"SELECT id, {rounds + 1} AS removed_round FROM alive{rounds + 1}"]
    )
    return f"""
WITH {EDGES_CTE},
sedges AS MATERIALIZED (SELECT src, dst FROM edges),
alive1 AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
{','.join(parts)},
rounds AS ({rounds_union}),
best AS (SELECT t FROM rounds r WHERE NOT EXISTS (
  SELECT 1 FROM rounds q
  WHERE q.sd * r.nv > r.sd * q.nv
     OR (q.sd * r.nv = r.sd * q.nv AND q.t < r.t))),
allrm AS ({rm_union})
SELECT id, removed_round::BIGINT AS removed_round,
       (removed_round >= (SELECT t FROM best))::INT AS in_densest
FROM allrm
"""


QUERIES["densest_peel"] = q_densest_peel
ORACLES["densest_peel"] = _sql_densest(DS_ROUNDS, DS_EPS_NUM, DS_EPS_DEN)


# ---------------------------------------------------------------------------
# round 5: Luby MIS (deterministic priorities) and Katz centrality
# ---------------------------------------------------------------------------

MIS_ROUNDS = 3
MIS_SALT = 5


def q_mis_r3(spark, sf_dir):
    """Luby MIS (algorithms/mis.py) on the part co-occurrence graph,
    3 fixed rounds, salt-5 md5 priorities. Output (id, in_mis, round):
    winners carry their Luby round, their removed neighbors the same
    round with in_mis=0, survivors round 4. Priorities are md5 strings
    suffixed with the id, so the oracle replays every winner set."""
    from fog_spark.algorithms.mis import maximal_independent_set

    return maximal_independent_set(
        cooccur_edges(spark, sf_dir), salt=MIS_SALT, max_rounds=MIS_ROUNDS
    )


def _sql_mis(rounds: int, salt: int) -> str:
    pri = f"md5('mis{salt}:' || id::VARCHAR) || '-' || lpad(id::VARCHAR, 12, '0')"
    parts = []
    for t in range(1, rounds + 1):
        parts.append(
            f"nm{t} AS MATERIALIZED (SELECT e.dst AS id, min(a.pri) AS nmin\n"
            f"  FROM sedges e JOIN alive{t} a ON a.id = e.src\n"
            f"  JOIN alive{t} b ON b.id = e.dst GROUP BY e.dst)"
        )
        parts.append(
            f"win{t} AS MATERIALIZED (SELECT a.id FROM alive{t} a\n"
            f"  LEFT JOIN nm{t} n ON n.id = a.id\n"
            f"  WHERE n.nmin IS NULL OR a.pri < n.nmin)"
        )
        parts.append(
            f"del{t} AS MATERIALIZED (SELECT DISTINCT e.dst AS id\n"
            f"  FROM sedges e JOIN win{t} w ON w.id = e.src\n"
            f"  JOIN alive{t} b ON b.id = e.dst\n"
            f"  WHERE e.dst NOT IN (SELECT id FROM win{t}))"
        )
        parts.append(
            f"alive{t + 1} AS MATERIALIZED (SELECT a.id, a.pri FROM alive{t} a\n"
            f"  WHERE a.id NOT IN (SELECT id FROM win{t})\n"
            f"    AND a.id NOT IN (SELECT id FROM del{t}))"
        )
    out = " UNION ALL ".join(
        [f"SELECT id, 1 AS in_mis, {t} AS round FROM win{t}" for t in range(1, rounds + 1)]
        + [f"SELECT id, 0 AS in_mis, {t} AS round FROM del{t}" for t in range(1, rounds + 1)]
        + [f"SELECT id, 0 AS in_mis, {rounds + 1} AS round FROM alive{rounds + 1}"]
    )
    return f"""
WITH {EDGES_CTE},
sedges AS MATERIALIZED (SELECT src, dst FROM edges),
alive1 AS MATERIALIZED (
  SELECT id, {pri} AS pri FROM (
    SELECT DISTINCT src AS id FROM sedges UNION SELECT dst FROM sedges)),
{','.join(parts)}
SELECT id, in_mis, round FROM ({out})
"""


QUERIES["mis_r3"] = q_mis_r3
ORACLES["mis_r3"] = _sql_mis(MIS_ROUNDS, MIS_SALT)


KATZ_ALPHA_NUM, KATZ_ALPHA_DEN = 1, 10  # alpha = 0.1
KATZ_ITERS = 5


def q_katz_k5(spark, sf_dir):
    """Katz centrality (algorithms/katz.py), 5 power-iteration rounds
    at alpha=0.1, beta=1, on the part co-occurrence graph."""
    from fog_spark.algorithms.katz import katz

    return katz(
        cooccur_edges(spark, sf_dir), alpha=0.1, beta=1.0, niters=KATZ_ITERS
    ).select("id", F.round("katz", 4).alias("katz_r"))


def _sql_katz(iters: int) -> str:
    parts = ["x1 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS katz FROM verts)"]
    for k in range(1, iters):
        parts.append(
            f"x{k + 1} AS MATERIALIZED (SELECT v.id,\n"
            f"  0.1 * coalesce(s.m, 0) + 1.0 AS katz\n"
            f"  FROM verts v LEFT JOIN (\n"
            f"    SELECT e.dst AS id, sum(x.katz) AS m\n"
            f"    FROM sedges e JOIN x{k} x ON x.id = e.src GROUP BY e.dst\n"
            f"  ) s ON s.id = v.id)"
        )
    return f"""
WITH {EDGES_CTE},
sedges AS MATERIALIZED (SELECT src, dst FROM edges),
verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM sedges UNION SELECT dst FROM sedges),
{','.join(parts)}
SELECT id, round(katz, 4) AS katz_r FROM x{iters}
"""


QUERIES["katz_k5"] = q_katz_k5
ORACLES["katz_k5"] = _sql_katz(KATZ_ITERS)


# ---------------------------------------------------------------------------
# round 5: Jones-Plassmann greedy coloring
# ---------------------------------------------------------------------------

COLOR_ROUNDS = 3


def q_coloring_r3(spark, sf_dir):
    """Jones-Plassmann coloring (algorithms/coloring.py) on the part
    co-occurrence graph, 3 fixed rounds, salt-5 priorities. Output
    (id, color, round); uncolored survivors carry color -1, round 4.
    Winner sets and the mex color choice replay exactly in SQL (the
    oracle computes mex with a window: first sorted forbidden color
    that differs from its 0-based rank)."""
    from fog_spark.algorithms.coloring import greedy_coloring

    return greedy_coloring(
        cooccur_edges(spark, sf_dir), salt=MIS_SALT, max_rounds=COLOR_ROUNDS
    )


def _sql_coloring(rounds: int, salt: int) -> str:
    pri = f"md5('mis{salt}:' || id::VARCHAR) || '-' || lpad(id::VARCHAR, 12, '0')"
    parts = ["allcol0 AS (SELECT NULL::BIGINT AS id, NULL::INT AS color WHERE false)"]
    for t in range(1, rounds + 1):
        parts.append(
            f"nm{t} AS MATERIALIZED (SELECT e.dst AS id, min(a.pri) AS nmin\n"
            f"  FROM sedges e JOIN alive{t} a ON a.id = e.src\n"
            f"  JOIN alive{t} b ON b.id = e.dst GROUP BY e.dst)"
        )
        parts.append(
            f"win{t} AS MATERIALIZED (SELECT a.id FROM alive{t} a\n"
            f"  LEFT JOIN nm{t} n ON n.id = a.id\n"
            f"  WHERE n.nmin IS NULL OR a.pri < n.nmin)"
        )
        parts.append(
            f"forb{t} AS MATERIALIZED (SELECT DISTINCT e.dst AS id, x.color\n"
            f"  FROM sedges e JOIN win{t} w ON w.id = e.dst\n"
            f"  JOIN allcol{t - 1} x ON x.id = e.src)"
        )
        parts.append(
            f"mex{t} AS (SELECT id, coalesce(min(CASE WHEN color <> rn THEN rn END), max(cnt)) AS mex\n"
            f"  FROM (SELECT id, color,\n"
            f"        row_number() OVER (PARTITION BY id ORDER BY color) - 1 AS rn,\n"
            f"        count(*) OVER (PARTITION BY id) AS cnt FROM forb{t})\n"
            f"  GROUP BY id)"
        )
        parts.append(
            f"wcol{t} AS MATERIALIZED (SELECT w.id, coalesce(m.mex, 0)::INT AS color\n"
            f"  FROM win{t} w LEFT JOIN mex{t} m ON m.id = w.id)"
        )
        parts.append(
            f"allcol{t} AS MATERIALIZED (SELECT id, color FROM allcol{t - 1}\n"
            f"  UNION ALL SELECT id, color FROM wcol{t})"
        )
        parts.append(
            f"alive{t + 1} AS MATERIALIZED (SELECT a.id, a.pri FROM alive{t} a\n"
            f"  WHERE a.id NOT IN (SELECT id FROM win{t}))"
        )
    out = " UNION ALL ".join(
        [f"SELECT id, color, {t} AS round FROM wcol{t}" for t in range(1, rounds + 1)]
        + [f"SELECT id, -1 AS color, {rounds + 1} AS round FROM alive{rounds + 1}"]
    )
    return f"""
WITH {EDGES_CTE},
sedges AS MATERIALIZED (SELECT src, dst FROM edges),
alive1 AS MATERIALIZED (
  SELECT id, {pri} AS pri FROM (
    SELECT DISTINCT src AS id FROM sedges UNION SELECT dst FROM sedges)),
{','.join(parts)}
SELECT id, color, round FROM ({out})
"""


QUERIES["coloring_r3"] = q_coloring_r3
ORACLES["coloring_r3"] = _sql_coloring(COLOR_ROUNDS, MIS_SALT)


# ---------------------------------------------------------------------------
# round 5: deterministic stratified sampling over documents
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 0.5, "zh": 0.9, "es": 0.8, "de": 0.25}  # fr -> default
SAMPLE_DEFAULT = 0.1
SAMPLE_SALT = 7
SAMPLE_TAKE_K = 25


def q_docs_stratified(spark, sf_dir):
    """Deterministic per-language downsampling of the documents table
    (datapipe/sampling.py): keep-rate by stratum, verdict a pure
    function of md5(salt:doc_id) — replayable bucket-for-bucket."""
    from fog_spark.datapipe.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs, SAMPLE_RATES, strata_col="lang", key_col="doc_id",
        default_rate=SAMPLE_DEFAULT, salt=SAMPLE_SALT,
    ).select("doc_id", "lang")


_SAMPLE_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {int(v * 1_000_000)}" for k, v in sorted(SAMPLE_RATES.items())
) + f" ELSE {int(SAMPLE_DEFAULT * 1_000_000)} END"

SQL_DOCS_STRATIFIED = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         {_hex_fold_sql(f"md5('smp{SAMPLE_SALT}:' || doc_id::VARCHAR)", 13)} % 1000000 AS bucket
  FROM documents)
WHERE bucket < {_SAMPLE_CASE}
"""

QUERIES["docs_stratified"] = q_docs_stratified
ORACLES["docs_stratified"] = SQL_DOCS_STRATIFIED


def q_docs_take25(spark, sf_dir):
    """Exactly 25 docs per language by deterministic hash order
    (datapipe/sampling.stratified_take) — the fixed-budget variant."""
    from fog_spark.datapipe.sampling import stratified_take

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_take(
        docs, SAMPLE_TAKE_K, strata_col="lang", key_col="doc_id", salt=SAMPLE_SALT
    ).select("doc_id", "lang")


SQL_DOCS_TAKE25 = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY
           {_hex_fold_sql(f"md5('smp{SAMPLE_SALT}:' || doc_id::VARCHAR)", 13)} % 1000000,
           doc_id) AS rn
  FROM documents)
WHERE rn <= {SAMPLE_TAKE_K}
"""

QUERIES["docs_take25"] = q_docs_take25
ORACLES["docs_take25"] = SQL_DOCS_TAKE25


# ---------------------------------------------------------------------------
# round 5: greedy maximal matching
# ---------------------------------------------------------------------------

MATCH_ROUNDS = 3


def q_matching_r3(spark, sf_dir):
    """Greedy matching (algorithms/matching.py) on the part
    co-occurrence graph: 3 fixed rounds of local-minimum edge
    priorities; output (a, b, round) matched pairs."""
    from fog_spark.algorithms.matching import greedy_matching

    return greedy_matching(
        cooccur_edges(spark, sf_dir), salt=MIS_SALT, max_rounds=MATCH_ROUNDS
    )


def _sql_matching(rounds: int, salt: int) -> str:
    pri = (f"md5('mat{salt}:' || a::VARCHAR || '~' || b::VARCHAR) || '-' || "
           f"lpad(a::VARCHAR, 12, '0') || '~' || lpad(b::VARCHAR, 12, '0')")
    parts = []
    for t in range(1, rounds + 1):
        parts.append(
            f"vm{t} AS MATERIALIZED (SELECT id, min(pri) AS vmin FROM (\n"
            f"  SELECT a AS id, pri FROM alive{t}\n"
            f"  UNION ALL SELECT b AS id, pri FROM alive{t}) GROUP BY id)"
        )
        parts.append(
            f"win{t} AS MATERIALIZED (SELECT e.a, e.b FROM alive{t} e\n"
            f"  JOIN vm{t} x ON x.id = e.a JOIN vm{t} y ON y.id = e.b\n"
            f"  WHERE e.pri = x.vmin AND e.pri = y.vmin)"
        )
        parts.append(
            f"mid{t} AS (SELECT a AS id FROM win{t} UNION SELECT b FROM win{t})"
        )
        parts.append(
            f"alive{t + 1} AS MATERIALIZED (SELECT e.a, e.b, e.pri FROM alive{t} e\n"
            f"  WHERE e.a NOT IN (SELECT id FROM mid{t})\n"
            f"    AND e.b NOT IN (SELECT id FROM mid{t}))"
        )
    out = " UNION ALL ".join(
        f"SELECT a, b, {t} AS round FROM win{t}" for t in range(1, rounds + 1)
    )
    return f"""
WITH {EDGES_CTE},
alive1 AS MATERIALIZED (
  SELECT a, b, {pri} AS pri FROM (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)),
{','.join(parts)}
SELECT a, b, round FROM ({out})
"""


QUERIES["matching_r3"] = q_matching_r3
ORACLES["matching_r3"] = _sql_matching(MATCH_ROUNDS, MIS_SALT)


# ---------------------------------------------------------------------------
# round 5: condensation DAG + topological build levels
# ---------------------------------------------------------------------------


def q_topo_levels(spark, sf_dir):
    """Build-order layering of the order-chain directed graph
    (algorithms/dag.py): SCC condensation + longest-path levels, run to
    the fixed point. The oracle computes the same fixed point directly —
    SCC by mutual recursive reachability, then levels as max path
    length ending at each super-vertex (paths recursion is finite
    because the condensation is acyclic)."""
    from fog_spark.algorithms.dag import topo_levels

    return topo_levels(directed_edges(spark, sf_dir, mod=SCC_CONV_MOD))


SQL_TOPO_LEVELS = f"""
WITH RECURSIVE {_dedges_cte(SCC_CONV_MOD)},
dverts AS (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges),
reach AS (
  SELECT id AS u, id AS v FROM dverts
  UNION
  SELECT r.u, e.dst AS v FROM reach r JOIN dedges e ON e.src = r.v
),
comp AS MATERIALIZED (
  SELECT f.v AS id, min(f.u) AS component
  FROM reach f
  WHERE EXISTS (SELECT 1 FROM reach b WHERE b.u = f.v AND b.v = f.u)
  GROUP BY f.v
),
cedges AS MATERIALIZED (
  SELECT DISTINCT cs.component AS s, cd.component AS d
  FROM dedges e JOIN comp cs ON cs.id = e.src JOIN comp cd ON cd.id = e.dst
  WHERE cs.component <> cd.component
),
paths AS (
  SELECT component AS c, 0 AS lvl FROM (SELECT DISTINCT component FROM comp)
  UNION
  SELECT e.d, p.lvl + 1 FROM paths p JOIN cedges e ON e.s = p.c
),
lvl AS (SELECT c, max(lvl) AS level FROM paths GROUP BY c)
SELECT v.id, v.component, l.level::BIGINT AS level
FROM comp v JOIN lvl l ON l.c = v.component
"""

QUERIES["topo_levels"] = q_topo_levels
ORACLES["topo_levels"] = SQL_TOPO_LEVELS


# ---------------------------------------------------------------------------
# round 5: full Louvain (local moves + contraction), two levels
# ---------------------------------------------------------------------------

LOUVAIN_L_ROUNDS = 2  # move rounds per level


def q_louvain_contract(spark, sf_dir):
    """Two-level Louvain (community.louvain_levels): 2 alternating-gate
    move rounds, contract communities to super-vertices (self-loop =
    2x intra), 2 more rounds on the contracted graph, compose. The
    oracle chains the identical weighted dynamics: candidate labels are
    gated <= own on odd rounds / >= own on even rounds (the
    deterministic swap-breaker), so every round replays exactly."""
    from fog_spark.algorithms.community import louvain_levels

    edges = cooccur_edges(spark, sf_dir).select("src", "dst")
    return louvain_levels(edges, move_rounds=LOUVAIN_L_ROUNDS, levels=2)


def _sql_louvain_w(e: str, p: str, rounds: int) -> list[str]:
    """Weighted alternating-gate move rounds over edge CTE ``e`` (src,
    dst, w); result labeling CTE: s{p}{rounds}."""
    ctes = [
        f"deg{p} AS MATERIALIZED (SELECT src AS id, sum(w)::BIGINT AS k "
        f"FROM {e} GROUP BY src)",
        f"m{p} AS (SELECT sum(w)::BIGINT AS m2 FROM {e})",
        f"s{p}0 AS MATERIALIZED (SELECT id, id AS label FROM deg{p})",
    ]
    for i in range(1, rounds + 1):
        pr = i - 1
        gate = "<=" if i % 2 == 1 else ">="
        ctes += [
            f"dc{p}{i} AS MATERIALIZED (SELECT s.label, sum(d.k)::BIGINT AS dc "
            f"FROM s{p}{pr} s JOIN deg{p} d ON s.id = d.id GROUP BY s.label)",
            f"k2{p}{i} AS MATERIALIZED (SELECT e.src AS id, l.label AS c, "
            f"sum(e.w)::BIGINT AS k2 FROM {e} e JOIN s{p}{pr} l ON e.dst = l.id "
            f"WHERE e.src <> e.dst GROUP BY e.src, l.label)",
            f"cand{p}{i} AS (SELECT id, c, max(k2) AS k2 FROM ("
            f"SELECT id, c, k2 FROM k2{p}{i} "
            f"UNION ALL SELECT id, label AS c, 0::BIGINT FROM s{p}{pr}) GROUP BY id, c)",
            f"sc{p}{i} AS MATERIALIZED (SELECT t.id, t.c, "
            f"(m.m2 * t.k2 - d.k * (dc.dc - CASE WHEN t.c = s.label THEN d.k ELSE 0 END)) AS gain2 "
            f"FROM cand{p}{i} t JOIN dc{p}{i} dc ON t.c = dc.label "
            f"JOIN deg{p} d ON t.id = d.id JOIN s{p}{pr} s ON t.id = s.id, m{p} m "
            f"WHERE t.c = s.label OR t.c {gate} s.label)",
            f"s{p}{i} AS MATERIALIZED (SELECT id, c AS label FROM ("
            f"SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY gain2 DESC, c ASC) AS rn "
            f"FROM sc{p}{i}) WHERE rn = 1)",
        ]
    return ctes


def _sql_louvain_contract(rounds: int) -> str:
    ctes = [
        EDGES_CTE,
        "wa AS (SELECT src, dst, 1::BIGINT AS w FROM edges)",
        *_sql_louvain_w("wa", "a", rounds),
        f"e2 AS MATERIALIZED (SELECT x.label AS src, y.label AS dst, "
        f"sum(e.w)::BIGINT AS w FROM wa e JOIN sa{rounds} x ON e.src = x.id "
        f"JOIN sa{rounds} y ON e.dst = y.id GROUP BY x.label, y.label)",
        *_sql_louvain_w("e2", "b", rounds),
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a.id, b.label FROM sa{rounds} a JOIN sb{rounds} b ON a.label = b.id"
    )


QUERIES["louvain_contract"] = q_louvain_contract
ORACLES["louvain_contract"] = _sql_louvain_contract(LOUVAIN_L_ROUNDS)


# ---------------------------------------------------------------------------
# round 5: benchmark decontamination (n-gram overlap vs a held-out set)
# ---------------------------------------------------------------------------

DECONTAM_MOD = 37     # doc_id % mod == 0 -> the held-out "benchmark" set
DECONTAM_THRESHOLD = 0.2


def q_decontam(spark, sf_dir):
    """Training-side decontamination (datapipe/decontam.py): flag
    corpus documents whose distinct word-trigram shingles overlap the
    deterministic benchmark split (doc_id % 37 == 0) at >= 20%.
    Benchmark shingles are distinct-reduced then BROADCAST — the
    eval-suite-vs-corpus asymmetry the 100 TB plan relies on."""
    from fog_spark.datapipe.decontam import decontaminate

    docs = load(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % DECONTAM_MOD != 0)
    bench = docs.where(F.col("doc_id") % DECONTAM_MOD == 0)
    return decontaminate(train, bench, n=3, threshold=DECONTAM_THRESHOLD)


SQL_DECONTAM = f"""
WITH arrs AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 0)),
                                    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
       FROM arrs),
bsh AS (SELECT DISTINCT g FROM sh WHERE doc_id % {DECONTAM_MOD} = 0),
agg AS (
  SELECT t.doc_id, count(*) AS n_unique_shingles, count(b.g) AS n_contaminated
  FROM (SELECT doc_id, g FROM sh WHERE doc_id % {DECONTAM_MOD} <> 0) t
  LEFT JOIN bsh b ON t.g = b.g
  GROUP BY t.doc_id)
SELECT d.doc_id,
       coalesce(a.n_unique_shingles, 0) AS n_unique_shingles,
       coalesce(a.n_contaminated, 0) AS n_contaminated,
       round(CASE WHEN coalesce(a.n_unique_shingles, 0) > 0
                  THEN a.n_contaminated / a.n_unique_shingles ELSE 0.0 END, 6)
         AS contamination_r,
       round(CASE WHEN coalesce(a.n_unique_shingles, 0) > 0
                  THEN a.n_contaminated / a.n_unique_shingles ELSE 0.0 END, 6)
         >= {DECONTAM_THRESHOLD} AS flagged
FROM (SELECT doc_id FROM documents WHERE doc_id % {DECONTAM_MOD} <> 0) d
LEFT JOIN agg a ON a.doc_id = d.doc_id
"""

QUERIES["decontam"] = q_decontam
ORACLES["decontam"] = SQL_DECONTAM


# ---------------------------------------------------------------------------
# round 5: Gopher-style repetition quality rules
# ---------------------------------------------------------------------------


def q_doc_repetition(spark, sf_dir):
    """Word-level repetition fractions per document (datapipe/text.
    repetition_scores): most-frequent-token share, most-frequent-bigram
    share, duplicate-trigram share, with the Gopher-style OR-gate flag
    (Rae et al. 2021 §A1.1.2). Complements doc_quality's length/
    stopword arm."""
    from fog_spark.datapipe.text import repetition_scores

    return repetition_scores(load(spark, sf_dir, "documents")).withColumnRenamed(
        "id", "doc_id"
    )


SQL_DOC_REPETITION = """
WITH arrs AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
tokc AS (SELECT doc_id, t, count(*) AS c FROM (SELECT doc_id, unnest(ts) AS t FROM arrs) GROUP BY doc_id, t),
tok AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens, max(c) AS top_tok FROM tokc GROUP BY doc_id),
bigc AS (SELECT doc_id, g, count(*) AS c FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
                                       i -> ts[i] || ' ' || ts[i+1])) AS g
  FROM arrs) GROUP BY doc_id, g),
big AS (SELECT doc_id, sum(c) AS n_big, max(c) AS top_big FROM bigc GROUP BY doc_id),
tri AS (SELECT doc_id, count(*) AS n_tri, count(DISTINCT g) AS u_tri FROM (
  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 0)),
                                       i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
  FROM arrs) GROUP BY doc_id)
SELECT t.doc_id, t.n_tokens,
       round(t.top_tok / t.n_tokens, 6) AS top_token_frac,
       round(coalesce(b.top_big / b.n_big, 0.0), 6) AS top_bigram_frac,
       round(coalesce((r.n_tri - r.u_tri) / r.n_tri, 0.0), 6) AS dup_trigram_frac,
       (round(t.top_tok / t.n_tokens, 6) > 0.2
        OR round(coalesce(b.top_big / b.n_big, 0.0), 6) > 0.18
        OR round(coalesce((r.n_tri - r.u_tri) / r.n_tri, 0.0), 6) > 0.3) AS flagged
FROM tok t LEFT JOIN big b ON b.doc_id = t.doc_id LEFT JOIN tri r ON r.doc_id = t.doc_id
"""

QUERIES["doc_repetition"] = q_doc_repetition
ORACLES["doc_repetition"] = SQL_DOC_REPETITION


# ---------------------------------------------------------------------------
# round 5: C4-style span-level exact dedup signal
# ---------------------------------------------------------------------------

SPAN_K = 8


def q_span_dedup(spark, sf_dir):
    """Per-document duplicated-span fraction (datapipe/dedup.
    span_dedup_stats): non-overlapping 8-token windows, md5 span
    hashes, corpus-global occurrence counts — C4's repeated-span
    removal signal (Raffel et al. 2020 §2.2) re-expressed as two keyed
    shuffles."""
    from fog_spark.datapipe.dedup import span_dedup_stats

    return span_dedup_stats(load(spark, sf_dir, "documents"), k=SPAN_K)


SQL_SPAN_DEDUP = f"""
WITH arrs AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
sp AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(ts) // {SPAN_K}),
                     i -> md5(array_to_string(ts[(i-1)*{SPAN_K}+1 : i*{SPAN_K}], ' ')))) AS h
       FROM arrs),
gct AS (SELECT h, count(*) AS n FROM sp GROUP BY h),
agg AS (SELECT s.doc_id, count(*) AS n_spans,
               sum(CASE WHEN g.n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans
        FROM sp s JOIN gct g ON g.h = s.h GROUP BY s.doc_id)
SELECT d.doc_id,
       coalesce(a.n_spans, 0) AS n_spans,
       coalesce(a.n_dup_spans, 0) AS n_dup_spans,
       round(CASE WHEN coalesce(a.n_spans, 0) > 0
                  THEN a.n_dup_spans / a.n_spans ELSE 0.0 END, 6) AS dup_frac
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""

QUERIES["span_dedup"] = q_span_dedup
ORACLES["span_dedup"] = SQL_SPAN_DEDUP


# ---------------------------------------------------------------------------
# round 5: Count-Min sketch heavy hitters
# ---------------------------------------------------------------------------

CM_DEPTH = 4
CM_WIDTH = 512
CM_SALT = 1
CM_TOPK = 10


def q_countmin_tokens(spark, sf_dir):
    """Count-Min frequency estimates (datapipe/sketches.cm_sketch) for
    the 10 most frequent corpus tokens: (t, true_c, est_c). est_c >=
    true_c always (one-sided collision error); the oracle replays the
    exact bucket hashing (md5 digit-fold mod width), so the sketch
    content — not just the bound — must match."""
    from fog_spark.datapipe.sketches import cm_estimate, cm_sketch

    tk = doc_tokens(spark, sf_dir).select("t")
    sk = cm_sketch(tk, "t", depth=CM_DEPTH, width=CM_WIDTH, salt=CM_SALT)
    truec = tk.groupBy("t").agg(F.count(F.lit(1)).alias("true_c"))
    top = truec.orderBy(F.desc("true_c"), F.asc("t")).limit(CM_TOPK)
    est = cm_estimate(sk, top, "t", depth=CM_DEPTH, width=CM_WIDTH, salt=CM_SALT)
    return top.join(est, top["t"] == est["item"]).select("t", "true_c", "est_c")


_CM_BUCKET_SQL = lambda item: (
    _hex_fold_sql(f"md5('cm{CM_SALT}:' || w.r::VARCHAR || ':' || {item})", 13)
    + f" % {CM_WIDTH}"
)

SQL_COUNTMIN_TOKENS = f"""
WITH {TOKENS_CTE},
rws AS (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS r),
truec AS (SELECT t, count(*)::BIGINT AS true_c FROM toks GROUP BY t),
top AS MATERIALIZED (SELECT t, true_c FROM truec ORDER BY true_c DESC, t LIMIT {CM_TOPK}),
tb AS (SELECT w.r, {_CM_BUCKET_SQL('x.t')} AS bucket FROM toks x CROSS JOIN rws w),
sk AS MATERIALIZED (SELECT r, bucket, count(*)::BIGINT AS c FROM tb GROUP BY r, bucket),
pe AS (SELECT p.t, p.true_c, w.r, {_CM_BUCKET_SQL('p.t')} AS bucket
       FROM top p CROSS JOIN rws w)
SELECT pe.t, pe.true_c, min(coalesce(s.c, 0)) AS est_c
FROM pe LEFT JOIN sk s ON s.r = pe.r AND s.bucket = pe.bucket
GROUP BY pe.t, pe.true_c
"""

QUERIES["countmin_tokens"] = q_countmin_tokens
ORACLES["countmin_tokens"] = SQL_COUNTMIN_TOKENS


# ---------------------------------------------------------------------------
# round 5: item-item co-occurrence cosine (basket similarity)
# ---------------------------------------------------------------------------

BCOS_K = 3
BCOS_MAX_BASKET = 64  # inert at test scale; the 100 TB escape hatch


def q_item_cosine(spark, sf_dir):
    """Top-3 most-similar parts per part by order-co-occurrence cosine
    (datapipe/similarity.basket_cosine_topk) over (l_orderkey,
    l_partkey) baskets — the recommendation-flavored view of the same
    bipartite source the co-occurrence link graph derives from."""
    from fog_spark.datapipe.similarity import basket_cosine_topk

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return basket_cosine_topk(
        li, "l_orderkey", "l_partkey", k=BCOS_K, max_basket=BCOS_MAX_BASKET
    )


SQL_ITEM_COSINE = f"""
WITH d AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
deg AS (SELECT it AS a, count(*)::BIGINT AS n_a FROM d GROUP BY it),
keep AS (SELECT bk FROM d GROUP BY bk HAVING count(*) <= {BCOS_MAX_BASKET}),
dk AS (SELECT d.bk, d.it FROM d JOIN keep k ON k.bk = d.bk),
co AS (SELECT x.it AS a, y.it AS b, count(*)::BIGINT AS n_ab
       FROM dk x JOIN dk y ON x.bk = y.bk AND x.it <> y.it
       GROUP BY x.it, y.it),
sc AS (SELECT co.a, co.b, co.n_ab,
              round(co.n_ab / sqrt(da.n_a * db.n_a), 6) AS cos_r
       FROM co JOIN deg da ON da.a = co.a JOIN deg db ON db.a = co.b)
SELECT a, b, n_ab, cos_r, rk FROM (
  SELECT a, b, n_ab, cos_r,
         row_number() OVER (PARTITION BY a ORDER BY cos_r DESC, b ASC) AS rk
  FROM sc)
WHERE rk <= {BCOS_K}
"""

QUERIES["item_cosine"] = q_item_cosine
ORACLES["item_cosine"] = SQL_ITEM_COSINE


# ---------------------------------------------------------------------------
# round 5: PII scrubbing (emails / IPv4 / phones masked + counted)
# ---------------------------------------------------------------------------


def q_pii_scrub(spark, sf_dir):
    """PII masking pass (datapipe/pii.py) over the documents table,
    deterministically enriched with one planted email / phone / IPv4
    per document (the synthetic corpus carries none, so the fixtures
    would otherwise exercise only the pass-through path). Counts,
    masked length and the masked-text sha256 are all engine-exact —
    the patterns live in the Java==RE2 regex subset."""
    from fog_spark.datapipe.pii import pii_scrub

    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact doc"), did.cast("string"),
            F.lit("@ex"), (did % 7).cast("string"),
            F.lit(".org call +1 202-555-01"),
            F.lpad((did % 100).cast("string"), 2, "0"),
            F.lit(" from 10."), (did % 64).cast("string"),
            F.lit(".0."), (did % 250).cast("string"),
        ).alias("text"),
    )
    return pii_scrub(enriched).withColumnRenamed("id", "doc_id")


def _sql_pii() -> str:
    from fog_spark.datapipe.pii import EMAIL_RE, IPV4_RE, PHONE_RE

    return f"""
WITH enr AS (
  SELECT doc_id,
         coalesce(text, '') || ' contact doc' || doc_id::VARCHAR || '@ex'
           || (doc_id % 7)::VARCHAR || '.org call +1 202-555-01'
           || lpad((doc_id % 100)::VARCHAR, 2, '0')
           || ' from 10.' || (doc_id % 64)::VARCHAR || '.0.'
           || (doc_id % 250)::VARCHAR AS text
  FROM documents),
m1 AS (SELECT doc_id,
              len(regexp_extract_all(text, '{EMAIL_RE}'))::BIGINT AS n_emails,
              regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS t
       FROM enr),
m2 AS (SELECT doc_id, n_emails,
              len(regexp_extract_all(t, '{IPV4_RE}'))::BIGINT AS n_ipv4,
              regexp_replace(t, '{IPV4_RE}', '<IP>', 'g') AS t
       FROM m1),
m3 AS (SELECT doc_id, n_emails, n_ipv4,
              len(regexp_extract_all(t, '{PHONE_RE}'))::BIGINT AS n_phones,
              regexp_replace(t, '{PHONE_RE}', '<PHONE>', 'g') AS t
       FROM m2)
SELECT doc_id, n_emails, n_ipv4, n_phones,
       len(t)::BIGINT AS masked_len, sha256(t) AS masked_sha
FROM m3
"""


QUERIES["pii_scrub"] = q_pii_scrub
ORACLES["pii_scrub"] = _sql_pii()


# ---------------------------------------------------------------------------
# round 5: language-mix rebalancing weights
# ---------------------------------------------------------------------------


def q_lang_mix(spark, sf_dir):
    """Per-language keep-rates rebalancing the documents corpus to a
    uniform language mix (datapipe/sampling.mix_weights) — the rates
    feed stratified_sample's deterministic hash filter."""
    from fog_spark.datapipe.sampling import mix_weights

    return mix_weights(load(spark, sf_dir, "documents"), strata_col="lang")


SQL_LANG_MIX = """
WITH c AS (SELECT lang AS stratum, count(*)::BIGINT AS n FROM documents GROUP BY lang),
t AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS n_strata FROM c)
SELECT stratum, n,
       round(least(1.0, ((1.0 / n_strata) * total) / n), 6) AS rate_r,
       round(least(1.0, ((1.0 / n_strata) * total) / n) * n, 6) AS expected_r
FROM c, t
"""

QUERIES["lang_mix"] = q_lang_mix
ORACLES["lang_mix"] = SQL_LANG_MIX


# ---------------------------------------------------------------------------
# round 5: 2-approximate vertex cover (endpoints of the greedy matching)
# ---------------------------------------------------------------------------


def q_vertex_cover(spark, sf_dir):
    """Vertex cover from the same 3 matching rounds as matching_r3
    (algorithms/matching.vertex_cover): distinct endpoints of the
    matched pairs — at convergence a 2-approximation of minimum cover;
    the fixed-round form the oracle replays."""
    from fog_spark.algorithms.matching import vertex_cover

    return vertex_cover(
        cooccur_edges(spark, sf_dir), salt=MIS_SALT, max_rounds=MATCH_ROUNDS
    )


SQL_VERTEX_COVER = f"""
SELECT DISTINCT id FROM (
  SELECT unnest([a, b]) AS id FROM ({_sql_matching(MATCH_ROUNDS, MIS_SALT)})
)
"""

QUERIES["vertex_cover"] = q_vertex_cover
ORACLES["vertex_cover"] = SQL_VERTEX_COVER


# ---------------------------------------------------------------------------
# round 5: ANF curve + effective diameter readout
# ---------------------------------------------------------------------------


def q_eff_diameter(spark, sf_dir):
    """The ANF curve N(r) for r = 0..3 on the order-chain directed
    graph (algorithms/anf.anf_curve): micro-rounded integer sums of the
    per-vertex KMV ball estimates, with reaches90 marking the
    effective-diameter threshold N(r) >= 0.9 N(3). Exact-replayable:
    integer sums are partition-order-free."""
    from fog_spark.algorithms.anf import anf_curve

    return anf_curve(directed_edges(spark, sf_dir), radius=ANF_RADIUS, k=ANF_K)


def _sql_anf_curve(radius: int, k: int) -> str:
    balls = []
    for r in range(1, radius + 1):
        balls.append(
            f"b{r} AS MATERIALIZED (SELECT DISTINCT v, m FROM (\n"
            f"  SELECT v, m FROM b{r-1}\n"
            f"  UNION ALL\n"
            f"  SELECT e.src AS v, b.m FROM dedges e JOIN b{r-1} b ON b.v = e.dst))"
        )
    per = []
    for r in range(radius + 1):
        hv = _hex_fold_sql("md5(m::VARCHAR)", 13)
        per.append(
            f"h{r} AS (SELECT v, {hv} + 1 AS hv FROM b{r}),\n"
            f"r{r} AS (SELECT v, hv, row_number() OVER (PARTITION BY v ORDER BY hv) AS rk,\n"
            f"             count(*) OVER (PARTITION BY v) AS nd FROM h{r}),\n"
            f"a{r} AS (SELECT {r} AS r, sum(round(\n"
            f"  (CASE WHEN nd < {k} THEN nd::DOUBLE\n"
            f"        ELSE {k - 1}.0 / (hv / {float(2 ** 52)!r}) END) * 1000000.0\n"
            f")::BIGINT) AS n_micro FROM r{r} WHERE rk = least(nd, {k}))"
        )
    curve = " UNION ALL ".join(f"SELECT r, n_micro FROM a{r}" for r in range(radius + 1))
    return f"""
WITH {DEDGES_CTE},
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM dedges UNION ALL SELECT dst FROM dedges)),
b0 AS (SELECT id AS v, id AS m FROM verts),
{','.join(balls)},
{','.join(per)},
curve AS ({curve}),
fin AS (SELECT n_micro AS final_micro FROM curve WHERE r = {radius})
SELECT r::INT AS r, n_micro, n_micro * 10 >= final_micro * 9 AS reaches90
FROM curve, fin
"""


QUERIES["eff_diameter"] = q_eff_diameter
ORACLES["eff_diameter"] = _sql_anf_curve(ANF_RADIUS, ANF_K)


# ---------------------------------------------------------------------------
# round 5: bowtie decomposition (Broder et al. 2000 web macro-structure)
# ---------------------------------------------------------------------------

BOWTIE_MOD = 61  # order sample yielding all six regions at sf0.01


def q_bowtie(spark, sf_dir):
    """Per-vertex bowtie region of the order-chain directed graph
    (algorithms/bowtie.bowtie_decomposition): CORE = largest SCC,
    IN/OUT by core reachability, TUBE/TENDRIL/DISC on the remainder.
    The oracle classifies off one recursive transitive closure — the
    Spark side never materializes a closure, only frontier fixed
    points (reference ingredients: application/scc.hpp:22-207 fwd/bwd
    labels, application/bfs.hpp:38-100 frontier supersteps)."""
    from fog_spark.algorithms.bowtie import bowtie_decomposition

    return bowtie_decomposition(directed_edges(spark, sf_dir, mod=BOWTIE_MOD))


SQL_BOWTIE = f"""
WITH RECURSIVE {_dedges_cte(BOWTIE_MOD)},
dverts AS (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges),
reach AS MATERIALIZED (
  SELECT id AS u, id AS v FROM dverts
  UNION
  SELECT r.u, e.dst AS v FROM reach r JOIN dedges e ON e.src = r.v
),
scc AS MATERIALIZED (
  SELECT f.v AS id, min(f.u) AS comp FROM reach f
  WHERE EXISTS (SELECT 1 FROM reach b WHERE b.u = f.v AND b.v = f.u)
  GROUP BY f.v
),
corec AS (SELECT comp FROM scc GROUP BY comp ORDER BY count(*) DESC, comp LIMIT 1),
core AS (SELECT id FROM scc WHERE comp = (SELECT comp FROM corec)),
fwd AS (SELECT DISTINCT r.v AS id FROM reach r JOIN core c ON r.u = c.id),
bwd AS (SELECT DISTINCT r.u AS id FROM reach r JOIN core c ON r.v = c.id),
cls0 AS (
  SELECT s.id,
    CASE WHEN cr.id IS NOT NULL THEN 'CORE'
         WHEN b.id IS NOT NULL THEN 'IN'
         WHEN f.id IS NOT NULL THEN 'OUT'
         ELSE NULL END AS region
  FROM scc s
  LEFT JOIN core cr ON cr.id = s.id
  LEFT JOIN fwd f ON f.id = s.id
  LEFT JOIN bwd b ON b.id = s.id
),
inn AS (SELECT id FROM cls0 WHERE region = 'IN'),
outt AS (SELECT id FROM cls0 WHERE region = 'OUT'),
from_in AS (SELECT DISTINCT r.v AS id FROM reach r JOIN inn i ON r.u = i.id),
to_out AS (SELECT DISTINCT r.u AS id FROM reach r JOIN outt o ON r.v = o.id)
SELECT c.id, coalesce(c.region,
  CASE WHEN fi.id IS NOT NULL AND t.id IS NOT NULL THEN 'TUBE'
       WHEN fi.id IS NOT NULL OR  t.id IS NOT NULL THEN 'TENDRIL'
       ELSE 'DISC' END) AS region
FROM cls0 c
LEFT JOIN from_in fi ON fi.id = c.id
LEFT JOIN to_out t ON t.id = c.id
"""

QUERIES["bowtie"] = q_bowtie
ORACLES["bowtie"] = SQL_BOWTIE


# ---------------------------------------------------------------------------
# round 5: related pages by in-neighborhood Jaccard
# ---------------------------------------------------------------------------

RELATED_K = 5


def q_related_pages(spark, sf_dir):
    """Top-5 related pages per page on the order-chain directed graph
    (algorithms/linkpred.related_pages): co-citation counts normalized
    to in-neighborhood Jaccard, ranked on the 6-decimal-rounded score
    with the related id as tie-break. Candidates come only from the
    shared-citing-vertex wedge join — never all-pairs."""
    from fog_spark.algorithms.linkpred import related_pages

    return related_pages(directed_edges(spark, sf_dir), k=RELATED_K)


SQL_RELATED_PAGES = f"""
WITH {DEDGES_CTE},
indeg AS (SELECT dst AS id, count(*) AS indeg FROM dedges GROUP BY dst),
cdeg AS (SELECT src, count(*) AS d FROM dedges GROUP BY src),
pairs AS (
  SELECT x.dst AS a, y.dst AS b, count(*) AS cocited
  FROM dedges x JOIN dedges y ON x.src = y.src AND x.dst < y.dst
  JOIN cdeg c ON c.src = x.src AND c.d <= 10000
  GROUP BY 1, 2
),
bothdir AS (
  SELECT a AS page, b AS related, cocited FROM pairs
  UNION ALL
  SELECT b AS page, a AS related, cocited FROM pairs
),
scored AS (
  SELECT page, related, cocited,
         round(cocited / (dp.indeg + dr.indeg - cocited), 6) AS jaccard_r
  FROM bothdir
  JOIN indeg dp ON dp.id = page
  JOIN indeg dr ON dr.id = related
),
ranked AS (
  SELECT page, related, cocited, jaccard_r,
         row_number() OVER (PARTITION BY page ORDER BY jaccard_r DESC, related ASC) AS rank
  FROM scored
)
SELECT page, related, cocited::BIGINT AS cocited, jaccard_r, rank::INT AS rank
FROM ranked WHERE rank <= {RELATED_K}
"""

QUERIES["related_pages"] = q_related_pages
ORACLES["related_pages"] = SQL_RELATED_PAGES


# ---------------------------------------------------------------------------
# round 5: sequence packing (concat-and-chunk training windows)
# ---------------------------------------------------------------------------

PACK_WINDOW = 512


def q_seq_packing(spark, sf_dir):
    """GPT-style sequence-packing manifest over documents
    (datapipe/packing.pack_documents): concatenate the corpus in doc_id
    order, cut every 512 tokens, report which segment of which document
    fills which context window. The Spark side computes global offsets
    with a two-pass distributed prefix sum (O(#partitions) driver
    transfer); the oracle replays it with one ordered window."""
    from fog_spark.datapipe.packing import pack_documents

    return pack_documents(load(spark, sf_dir, "documents"), window=PACK_WINDOW)


SQL_SEQ_PACKING = f"""
WITH t AS (
  SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n
  FROM documents
),
o AS (
  SELECT doc_id, n,
         (sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n)::BIGINT AS start
  FROM t WHERE n > 0
),
b AS (
  SELECT doc_id, n, start,
         unnest(generate_series(start // {PACK_WINDOW}, (start + n - 1) // {PACK_WINDOW})) AS bin
  FROM o
)
SELECT bin,
       doc_id,
       greatest(start, bin * {PACK_WINDOW}) - start AS doc_off,
       greatest(start, bin * {PACK_WINDOW}) - bin * {PACK_WINDOW} AS bin_off,
       least(start + n, (bin + 1) * {PACK_WINDOW}) - greatest(start, bin * {PACK_WINDOW}) AS len
FROM b
"""

QUERIES["seq_packing"] = q_seq_packing
ORACLES["seq_packing"] = SQL_SEQ_PACKING


# ---------------------------------------------------------------------------
# round 5: dyad census + deterministic independent-cascade influence
# ---------------------------------------------------------------------------


def q_dyad_census(spark, sf_dir):
    """Holland-Leinhardt dyad census of the order-chain directed graph:
    mutual / asymmetric / null unordered pairs, plus edge reciprocity
    (2M / |E|, 6-decimal). One pair-key aggregate — no closure, no
    all-pairs; null dyads come from |V| arithmetic."""
    ded = directed_edges(spark, sf_dir)
    pair = ded.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    )
    from fog_spark.engine.superstep import vertices_of

    cnts = pair.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    m = cnts.agg(
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("mutual"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("asym"),
    )
    nv = vertices_of(ded).agg(F.count(F.lit(1)).alias("nv"))
    ne = ded.agg(F.count(F.lit(1)).alias("ne"))
    return (
        m.crossJoin(nv)  # 1-row x 1-row final assembly
        .crossJoin(ne)
        .select(
            F.col("mutual").cast("long").alias("mutual"),
            F.col("asym").cast("long").alias("asym"),
            (F.col("nv") * (F.col("nv") - 1) / 2 - F.col("mutual") - F.col("asym"))
            .cast("long")
            .alias("null_pairs"),
            F.round(2.0 * F.col("mutual") / F.col("ne"), 6).alias("reciprocity_r"),
        )
    )


SQL_DYAD_CENSUS = f"""
WITH {DEDGES_CTE},
cnts AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b, count(*) AS c
  FROM dedges GROUP BY 1, 2
),
m AS (SELECT sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS mutual,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS asym FROM cnts),
v AS (SELECT count(*) AS nv FROM (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges)),
e AS (SELECT count(*) AS ne FROM dedges)
SELECT mutual::BIGINT AS mutual, asym::BIGINT AS asym,
       (nv * (nv - 1) / 2 - mutual - asym)::BIGINT AS null_pairs,
       round(2.0 * mutual / ne, 6) AS reciprocity_r
FROM m, v, e
"""

QUERIES["dyad_census"] = q_dyad_census
ORACLES["dyad_census"] = SQL_DYAD_CENSUS


IC_SEEDS = 4
IC_SAMPLES = 3
IC_PNUM = 1288490188  # floor(0.30 * 2^32)


def q_influence_ic(spark, sf_dir):
    """Independent-cascade influence of the top-4 out-degree seeds over
    3 deterministic hash-activated edge samples
    (algorithms/cascade.influence_spread): per (seed, sample), the size
    of the seed's reachable set on the fired subgraph. Every activation
    is a pure md5-fold function of (src, dst, sample), so the oracle
    replays the exact cascades with a recursive CTE."""
    from fog_spark.algorithms.cascade import influence_spread

    e = directed_edges(spark, sf_dir)
    seeds = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), F.asc("src"))
        .limit(IC_SEEDS)
        .select(F.col("src").alias("root"))
    )
    return influence_spread(e, seeds, p_num=IC_PNUM, samples=IC_SAMPLES).select(
        "seed", F.col("sample").cast("long").alias("sample"), F.col("reach").cast("long").alias("reach")
    )


_IC_HASH = _hex_fold_sql(
    "md5(e.src::VARCHAR || '-' || e.dst::VARCHAR || '-' || s.k::VARCHAR)", 8
)

SQL_INFLUENCE_IC = f"""
WITH RECURSIVE {DEDGES_CTE},
samples AS (SELECT unnest(generate_series(0, {IC_SAMPLES - 1})) AS k),
seeds AS (SELECT src AS root FROM dedges GROUP BY src ORDER BY count(*) DESC, src LIMIT {IC_SEEDS}),
act AS MATERIALIZED (
  SELECT s.k, e.src, e.dst FROM dedges e CROSS JOIN samples s
  WHERE {_IC_HASH} < {IC_PNUM}
),
reach AS (
  SELECT s2.k, sd.root, sd.root AS v FROM seeds sd CROSS JOIN samples s2
  UNION
  SELECT r.k, r.root, a.dst AS v FROM reach r JOIN act a ON a.k = r.k AND a.src = r.v
)
SELECT root AS seed, k::BIGINT AS sample, count(*)::BIGINT AS reach
FROM reach GROUP BY root, k
"""

QUERIES["influence_ic"] = q_influence_ic
ORACLES["influence_ic"] = SQL_INFLUENCE_IC


# ---------------------------------------------------------------------------
# round 5: seeded label spreading (micro-integer clamped propagation)
# ---------------------------------------------------------------------------

LS_ROUNDS = 3
LS_SEEDS = 6


def q_label_spread(spark, sf_dir):
    """Seeded label spreading on the order-chain directed graph
    (algorithms/labelspread.label_spreading): the 6 highest-degree
    vertices (symmetrized degree, ties to smaller id) seed their own
    ids as labels; 3 clamped micro-integer spreading rounds; output =
    per-vertex argmax label + its micro-mass. All-integer arithmetic,
    replayed round-for-round by the oracle."""
    from fog_spark.algorithms.labelspread import label_spreading
    from fog_spark.engine.superstep import symmetrize

    e = directed_edges(spark, sf_dir)
    deg = (
        symmetrize(e).distinct()
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    seeds = (
        deg.orderBy(F.desc("d"), F.asc("src"))
        .limit(LS_SEEDS)
        .select(F.col("src").alias("id"), F.col("src").alias("label"))
    )
    return label_spreading(e, seeds, rounds=LS_ROUNDS)


def _sql_label_spread(rounds: int, nseeds: int) -> str:
    steps = []
    for r in range(1, rounds + 1):
        steps.append(
            f"m{r} AS (SELECT a.dst AS id, s.label, s.m // d.outdeg AS m\n"
            f"         FROM s{r-1} s JOIN sym a ON a.src = s.id JOIN deg d ON d.src = s.id),\n"
            f"g{r} AS (SELECT id, label, sum(m) AS m FROM m{r} GROUP BY id, label HAVING sum(m) > 0),\n"
            f"s{r} AS MATERIALIZED (SELECT g.id, g.label, g.m FROM g{r} g\n"
            f"       WHERE g.id NOT IN (SELECT id FROM seeds)\n"
            f"       UNION ALL SELECT id, label, m FROM seeds)"
        )
    return f"""
WITH {DEDGES_CTE},
sym AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM dedges UNION ALL SELECT dst AS src, src AS dst FROM dedges
  )
),
deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
seeds AS MATERIALIZED (
  SELECT src AS id, src AS label, 1000000::BIGINT AS m
  FROM deg ORDER BY outdeg DESC, src LIMIT {nseeds}
),
s0 AS (SELECT id, label, m FROM seeds),
{','.join(steps)}
SELECT id, label, m FROM (
  SELECT id, label, m,
         row_number() OVER (PARTITION BY id ORDER BY m DESC, label ASC) AS rk
  FROM s{rounds}
) WHERE rk = 1
"""


QUERIES["label_spread"] = q_label_spread
ORACLES["label_spread"] = _sql_label_spread(LS_ROUNDS, LS_SEEDS)


# ---------------------------------------------------------------------------
# round 5: distributed BPE merge-rule training
# ---------------------------------------------------------------------------

BPE_ROUNDS = 6


def q_bpe_merges(spark, sf_dir):
    """The first 6 learned BPE merge rules over documents
    (datapipe/bpe.bpe_train): distinct-word frequency reduction, then
    per round one corpus-weighted adjacent-pair count, one 1-row
    argmax, and a windows-only greedy merge application. The oracle
    unrolls the identical rounds in SQL — pair counts AND the evolving
    symbol tables replay exactly."""
    from fog_spark.datapipe.bpe import bpe_train

    return bpe_train(load(spark, sf_dir, "documents"), rounds=BPE_ROUNDS)


def _sql_bpe(rounds: int) -> str:
    parts = [
        "wt AS (SELECT t AS w, count(*) AS freq FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents) GROUP BY t)",
        "t0 AS MATERIALIZED (SELECT w, freq, i - 1 AS pos, substr(w, i::INT, 1) AS sym FROM wt, unnest(generate_series(1, length(w))) AS g(i))",
    ]
    for r in range(1, rounds + 1):
        tp = f"t{r-1}"
        parts += [
            f"p{r} AS (SELECT sym AS lhs, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS rhs, freq FROM {tp})",
            f"b{r} AS MATERIALIZED (SELECT lhs, rhs, sum(freq)::BIGINT AS cnt FROM p{r} WHERE rhs IS NOT NULL GROUP BY lhs, rhs ORDER BY cnt DESC, lhs, rhs LIMIT 1)",
            f"d{r} AS (SELECT t.w, t.freq, t.pos, t.sym, (t.sym = b.lhs AND lead(t.sym) OVER (PARTITION BY t.w ORDER BY t.pos) = b.rhs) AS cand FROM {tp} t, b{r} b)",
            f"e{r} AS (SELECT w, pos, pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS isl FROM d{r} WHERE cand)",
            f"f{r} AS (SELECT w, pos, TRUE AS mrg FROM (SELECT w, pos, row_number() OVER (PARTITION BY w, isl ORDER BY pos) AS rn FROM e{r}) WHERE rn % 2 = 1)",
            f"g{r} AS (SELECT d.w, d.freq, d.pos, d.sym, coalesce(f.mrg, FALSE) AS mrg FROM d{r} d LEFT JOIN f{r} f ON f.w = d.w AND f.pos = d.pos)",
            f"h{r} AS (SELECT *, coalesce(lag(mrg) OVER (PARTITION BY w ORDER BY pos), FALSE) AS dropped FROM g{r})",
            f"t{r} AS MATERIALIZED (SELECT w, freq, row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos, CASE WHEN mrg THEN (SELECT lhs || rhs FROM b{r}) ELSE sym END AS sym FROM h{r} WHERE NOT dropped)",
        ]
    union = "\nUNION ALL\n".join(
        f"SELECT {r}::INT AS merge_round, lhs, rhs, cnt AS pair_count FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


QUERIES["bpe_merges"] = q_bpe_merges
ORACLES["bpe_merges"] = _sql_bpe(BPE_ROUNDS)


# ---------------------------------------------------------------------------
# round 5: 4-clique counting (degree-oriented DAG extension)
# ---------------------------------------------------------------------------


def q_cliques4(spark, sf_dir):
    """Exact 4-clique total of the order-chain graph
    (algorithms/triangles.four_clique_total): the degree-oriented
    triangle stream extended one level — the graphlet-counting pattern
    one step past the reference's own TODO (triangle counting,
    /root/reference/TODO.list:17-18)."""
    from fog_spark.algorithms.triangles import four_clique_total

    return four_clique_total(directed_edges(spark, sf_dir))


SQL_CLIQUES4 = f"""
WITH {DEDGES_CTE},
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM dedges WHERE src <> dst),
deg AS (SELECT v, count(*) AS d FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
o AS MATERIALIZED (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END AS lo,
         CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END AS hi
  FROM und JOIN deg da ON da.v = a JOIN deg db ON db.v = b
),
tri AS (
  SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
  FROM o e1 JOIN o e2 ON e2.lo = e1.hi
  JOIN o e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
)
SELECT count(*)::BIGINT AS n_4cliques
FROM tri t JOIN o e ON e.lo = t.z
WHERE EXISTS (SELECT 1 FROM o WHERE lo = t.y AND hi = e.hi)
  AND EXISTS (SELECT 1 FROM o WHERE lo = t.x AND hi = e.hi)
"""

QUERIES["cliques4"] = q_cliques4
ORACLES["cliques4"] = SQL_CLIQUES4


# ---------------------------------------------------------------------------
# round 5: PPR sweep-cut local clustering (Andersen-Chung-Lang)
# ---------------------------------------------------------------------------

SWEEP_TOPK = 64


def q_sweep_cut(spark, sf_dir):
    """Local cluster around the smallest vertex id of the co-occurrence
    graph: 3-round single-seed personalized PageRank, then the
    conductance sweep over the top-64 degree-normalized scores
    (algorithms/sweep.sweep_cut). Only the PPR touches the full graph;
    the curve itself is a broadcastable top-K frame."""
    from fog_spark.algorithms.pagerank import pagerank_personalized
    from fog_spark.algorithms.sweep import sweep_cut
    from fog_spark.engine.superstep import vertices_of

    edges = cooccur_edges(spark, sf_dir).persist()
    verts = vertices_of(edges)
    seed = verts.orderBy("id").limit(1)
    ranks, _ = pagerank_personalized(edges, seed, vertices=verts, tol=0.0, max_iters=PPR_ROUNDS)
    out = sweep_cut(ranks, edges, topk=SWEEP_TOPK)
    edges.unpersist()
    return out


def _sql_sweep(k: int, topk: int) -> str:
    ctes = [
        EDGES_CTE,
        "deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src)",
        "verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "vd AS (SELECT v.id, coalesce(d.outdeg, 0) AS outdeg FROM verts v LEFT JOIN deg d USING (id))",
        "sd AS (SELECT min(id) AS sid FROM verts)",
        "r0 AS MATERIALIZED (SELECT vd.id, vd.outdeg, "
        "CASE WHEN vd.id = sd.sid THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS tele, "
        "CASE WHEN vd.id = sd.sid THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS rank "
        "FROM vd, sd)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"d{i} AS (SELECT coalesce(sum(rank), 0.0)::DOUBLE AS dang FROM r{i-1} WHERE outdeg = 0)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT r.id, r.outdeg, r.tele, "
            f"(1.0::DOUBLE - 0.85::DOUBLE + 0.85::DOUBLE * d.dang) * r.tele "
            f"+ 0.85::DOUBLE * coalesce(m.s, 0.0::DOUBLE) AS rank "
            f"FROM r{i-1} r LEFT JOIN (SELECT e.dst, sum(r.rank / r.outdeg) AS s "
            f"FROM edges e JOIN r{i-1} r ON e.src = r.id GROUP BY e.dst) m ON r.id = m.dst, d{i} d)"
        )
    ctes += [
        "und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges WHERE src <> dst)",
        "udeg AS (SELECT id, count(*) AS udeg FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id)",
        "tm AS (SELECT 2 * count(*) AS two_m FROM und)",
        f"sc AS (SELECT r.id, u.udeg, round(r.rank / u.udeg, 9) AS score FROM r{k} r JOIN udeg u USING (id))",
        f"top AS MATERIALIZED (SELECT id, udeg, k FROM (SELECT id, udeg, row_number() OVER (ORDER BY score DESC, id) AS k FROM sc) WHERE k <= {topk})",
        "inter AS (SELECT greatest(ta.k, tb.k) AS k FROM und u JOIN top ta ON ta.id = u.a JOIN top tb ON tb.id = u.b)",
        "ein AS (SELECT k, count(*) AS e_in FROM inter GROUP BY k)",
        "curve AS (SELECT t.k, t.id, t.udeg, coalesce(e.e_in, 0) AS e_in FROM top t LEFT JOIN ein e USING (k))",
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT k, id, round(\n"
        "  (sum(udeg - 2 * e_in) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING))::DOUBLE\n"
        "  / least(sum(udeg) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING),\n"
        "          two_m - sum(udeg) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)), 6) AS phi_r\n"
        "FROM curve, tm"
    )


QUERIES["sweep_cut"] = q_sweep_cut
ORACLES["sweep_cut"] = _sql_sweep(PPR_ROUNDS, SWEEP_TOPK)


def q_bpe_encode(spark, sf_dir):
    """Per-document BPE segmentation stats after the 6 learned merges
    (datapipe/bpe.bpe_encode_stats): token/char/bpe-symbol counts and
    the compression ratio. The oracle replays the same 6 training
    rounds, then aggregates the corpus token stream against the final
    symbol table."""
    from fog_spark.datapipe.bpe import bpe_encode_stats

    return bpe_encode_stats(load(spark, sf_dir, "documents"), rounds=BPE_ROUNDS).withColumnRenamed(
        "id", "doc_id"
    )


def _sql_bpe_encode(rounds: int) -> str:
    base = _sql_bpe(rounds)
    chain = base[: base.index("\nSELECT 1::INT AS merge_round")]
    return (
        chain
        + f""",
wcnt AS (SELECT w, count(*) AS nsym FROM t{rounds} GROUP BY w),
dtok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents)
SELECT d.doc_id,
       count(*) AS n_tokens,
       sum(length(d.t))::BIGINT AS n_chars,
       sum(c.nsym)::BIGINT AS n_bpe,
       round(sum(c.nsym)::DOUBLE / sum(length(d.t)), 6) AS compression_r
FROM dtok d JOIN wcnt c ON c.w = d.t
GROUP BY d.doc_id
"""
    )


QUERIES["bpe_encode"] = q_bpe_encode
ORACLES["bpe_encode"] = _sql_bpe_encode(BPE_ROUNDS)


# ---------------------------------------------------------------------------
# round 5: embedding hubness (reverse-kNN counts)
# ---------------------------------------------------------------------------


def q_embedding_hubness(spark, sf_dir):
    """Reverse-3NN counts per vector — the standard embedding-space QA
    metric (hubness: high-dimensional spaces grow 'hub' points that
    appear in everyone's neighbor lists, Radovanović et al. 2010).
    Composes the exact top-3 cosine baseline (oracle-scale, like
    embedding_knn_top3); at corpus scale the same composition runs off
    the LSH/IVF shortlist instead (embedding_near_dups / ivf_knn)."""
    knn = q_embedding_knn_top3(spark, sf_dir)
    counts = knn.groupBy(F.col("nn_id").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("rknn3")
    )
    allv = load(spark, sf_dir, "embeddings").select("vec_id")
    return allv.join(counts, "vec_id", "left").select(
        "vec_id", F.coalesce("rknn3", F.lit(0)).cast("long").alias("rknn3")
    )


SQL_EMBEDDING_HUBNESS = SQL_EMBEDDING_KNN_TOP3.replace(
    "SELECT a_id AS vec_id, rnk, b_id AS nn_id FROM r WHERE rnk <= 3",
    """t AS (SELECT b_id FROM r WHERE rnk <= 3)
SELECT e.vec_id, coalesce(c.n, 0)::BIGINT AS rknn3
FROM embeddings e LEFT JOIN (SELECT b_id, count(*) AS n FROM t GROUP BY b_id) c
ON c.b_id = e.vec_id""",
).replace(
    "r AS (SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS rnk FROM p)",
    "r AS (SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS rnk FROM p),",
)

QUERIES["embedding_hubness"] = q_embedding_hubness
ORACLES["embedding_hubness"] = SQL_EMBEDDING_HUBNESS


# ---------------------------------------------------------------------------
# round 5: triad census (canonical-code classes of connected triads)
# ---------------------------------------------------------------------------


def q_triad_census(spark, sf_dir):
    """Connected-triad census of the order-chain directed graph
    (algorithms/triads.triad_census): every triple with >= 2 linked
    dyads, classified by the permutation-minimal 6-bit edge code — the
    13 connected Holland-Leinhardt types with no hand-derived lookup
    table to get wrong (both engines compute the same least()-of-6
    algebra)."""
    from fog_spark.algorithms.triads import triad_census

    return triad_census(directed_edges(spark, sf_dir)).select(
        "triad_code", F.col("n_triads").cast("long").alias("n_triads")
    )


def _sql_triads() -> str:
    from fog_spark.algorithms.triads import canonical_code_sql

    exists = []
    for bit, (i, j) in {1: (0, 1), 2: (1, 0), 4: (0, 2), 8: (2, 0), 16: (1, 2), 32: (2, 1)}.items():
        cols = ["x", "y", "z"]
        exists.append(
            f"EXISTS(SELECT 1 FROM dedges WHERE src = t.{cols[i]} AND dst = t.{cols[j]}) AS b{bit}"
        )
    return f"""
WITH {DEDGES_CTE},
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM dedges),
l AS (SELECT a AS m, b AS p FROM und UNION ALL SELECT b AS m, a AS p FROM und),
tr AS (
  SELECT DISTINCT
    least(l1.m, l1.p, l2.q) AS x,
    greatest(least(l1.m, l1.p), least(greatest(l1.m, l1.p), l2.q)) AS y,
    greatest(l1.m, l1.p, l2.q) AS z
  FROM l l1 JOIN (SELECT m, p AS q FROM l) l2 ON l2.m = l1.m AND l1.p < l2.q
),
f AS (SELECT t.x, t.y, t.z, {', '.join(exists)} FROM tr t)
SELECT {canonical_code_sql()} AS triad_code, count(*)::BIGINT AS n_triads
FROM f GROUP BY 1
"""


QUERIES["triad_census"] = q_triad_census
ORACLES["triad_census"] = _sql_triads()


# ---------------------------------------------------------------------------
# round 5: bond-percolation robustness curve
# ---------------------------------------------------------------------------

PERC_PNUMS = [1288490188, 2576980377, 3865470565]  # 0.30 / 0.60 / 0.90 of 2^32


def q_percolation(spark, sf_dir):
    """Robustness curve of the mod-61 order-chain graph under random
    edge failure (algorithms/cascade.percolation_curve): deterministic
    md5-fold edge retention at 30/60/90%, weak components per level.
    The oracle replays each level's exact surviving edge set and a
    relay-pruned recursive closure."""
    from fog_spark.algorithms.cascade import percolation_curve

    return percolation_curve(
        directed_edges(spark, sf_dir, mod=BOWTIE_MOD), PERC_PNUMS
    )


def _sql_percolation(p_nums: list[int]) -> str:
    hashexpr = _hex_fold_sql("md5(e.src::VARCHAR || '-' || e.dst::VARCHAR || '-0')", 8)
    levels = []
    for i, p in enumerate(p_nums):
        levels.append(
            f"""a{i} AS MATERIALIZED (SELECT src, dst FROM dedges e WHERE {hashexpr} < {p}),
s{i} AS (SELECT src, dst FROM a{i} UNION SELECT dst, src FROM a{i}),
v{i} AS (SELECT DISTINCT src AS id FROM s{i}),
r{i} AS (
  SELECT id, id AS comp FROM v{i}
  UNION
  SELECT s.dst AS id, r.comp FROM r{i} r JOIN s{i} s ON s.src = r.id
  WHERE r.comp < s.dst
),
c{i} AS (SELECT id, min(comp) AS comp FROM r{i} GROUP BY id),
g{i} AS (SELECT comp, count(*) AS n FROM c{i} GROUP BY comp),
o{i} AS (SELECT {p}::BIGINT AS p_num, (SELECT count(*) FROM a{i})::BIGINT AS n_edges,
                count(*)::BIGINT AS n_components, max(n)::BIGINT AS max_component FROM g{i})"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM o{i}" for i in range(len(p_nums)))
    return f"WITH RECURSIVE {_dedges_cte(BOWTIE_MOD)},\n" + ",\n".join(levels) + "\n" + union


QUERIES["percolation"] = q_percolation
ORACLES["percolation"] = _sql_percolation(PERC_PNUMS)


# ---------------------------------------------------------------------------
# round 5: WCC size histogram (Broder-style component distribution)
# ---------------------------------------------------------------------------


def q_wcc_sizes(spark, sf_dir):
    """Component-size histogram of the mod-61 order-chain graph
    (n_components per size) — the classic web-graph readout paired
    with the bowtie regions (Broder et al. 2000 fig. 5): one hash-min
    CC fixed point, two aggregates."""
    from fog_spark.algorithms.cc import connected_components

    comps = connected_components(directed_edges(spark, sf_dir, mod=BOWTIE_MOD))
    return (
        comps.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"))
    )


SQL_WCC_SIZES = f"""
WITH RECURSIVE {_dedges_cte(BOWTIE_MOD)},
sym AS (SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges),
verts AS (SELECT DISTINCT src AS id FROM sym),
r AS (
  SELECT id, id AS comp FROM verts
  UNION
  SELECT s.dst AS id, r.comp FROM r JOIN sym s ON s.src = r.id
  WHERE r.comp < s.dst
),
c AS (SELECT id, min(comp) AS comp FROM r GROUP BY id),
g AS (SELECT comp, count(*) AS size FROM c GROUP BY comp)
SELECT size, count(*)::BIGINT AS n_components FROM g GROUP BY size
"""

QUERIES["wcc_sizes"] = q_wcc_sizes
ORACLES["wcc_sizes"] = SQL_WCC_SIZES


# ---------------------------------------------------------------------------
# round 5: the north-star derivation itself, oracled — repos table -> edges
# ---------------------------------------------------------------------------


def repo_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-repository table in the north_rule's input
    shape (repo, path, commit, lang, content), synthesized as a pure
    function of documents.doc_id: file f<i> lives in repo r<i%7> and
    imports f<i+7>, f<i+14>, f<i+21> (same residue class = same repo;
    out-of-range targets exercise unresolved-reference dropping)."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    mk = lambda off: F.concat(F.lit("f"), (F.col("doc_id") + off).cast("string"))  # noqa: E731
    content = F.concat_ws(
        "\n",
        F.concat(F.lit("import "), mk(7)),
        F.lit("# deterministic synthetic source"),
        F.concat(F.lit("from "), mk(14), F.lit(" import thing")),
        F.concat(F.lit("import "), mk(21)),
    )
    return d.select(
        F.concat(F.lit("r"), (F.col("doc_id") % 7).cast("string")).alias("repo"),
        F.concat(F.lit("src/f"), F.col("doc_id").cast("string"), F.lit(".py")).alias("path"),
        F.md5(F.col("doc_id").cast("string")).alias("commit"),
        F.lit("python").alias("lang"),
        content.alias("content"),
    )


def q_repo_graph(spark, sf_dir):
    """The north-star convert replacement END-TO-END, oracled: the
    synthetic (repo, path, commit, lang, content) table through
    graph/derive.derive_graph — real regex import extraction (both
    ``import x`` and ``from x import`` groups), dense-id assignment via
    the distributed prefix sum, reference resolution joins, the
    deterministic weight. The oracle replays the SYNTHESIS INTENT
    directly (it knows which imports were planted), so any divergence
    in the extraction/resolution pipeline fails the gate."""
    from fog_spark.graph.derive import derive_graph

    g = derive_graph(repo_table(spark, sf_dir))
    return g.edges.select("src", "dst", "weight")


SQL_REPO_GRAPH = """
WITH rt AS (
  SELECT doc_id, 'r' || (doc_id % 7)::VARCHAR AS repo,
         'src/f' || doc_id::VARCHAR || '.py' AS path
  FROM documents
),
files AS (
  SELECT repo, path, row_number() OVER (ORDER BY repo, path) - 1 AS id
  FROM (SELECT DISTINCT repo, path FROM rt)
),
refs AS (
  SELECT repo, path, 'src/f' || (doc_id + 7)::VARCHAR || '.py' AS dst_path FROM rt
  UNION ALL
  SELECT repo, path, 'src/f' || (doc_id + 14)::VARCHAR || '.py' FROM rt
  UNION ALL
  SELECT repo, path, 'src/f' || (doc_id + 21)::VARCHAR || '.py' FROM rt
)
SELECT DISTINCT s.id AS src, d.id AS dst,
       ((s.id * 31 + d.id) % 90 + 10) / 10.0 AS weight
FROM refs r
JOIN files s ON s.repo = r.repo AND s.path = r.path
JOIN files d ON d.repo = r.repo AND d.path = r.dst_path
"""

QUERIES["repo_graph"] = q_repo_graph
ORACLES["repo_graph"] = SQL_REPO_GRAPH


def q_repo_sha(spark, sf_dir):
    """The input_hint's per-row invariant made driver-visible: every
    synthesized repo row's sha256(content) (graph/derive.with_content_sha,
    Spark built-in sha2) vs DuckDB's native sha256 over the identically
    synthesized content — byte-for-byte content equality across engines
    is a precondition of every hash equality above."""
    from fog_spark.graph.derive import with_content_sha

    return with_content_sha(repo_table(spark, sf_dir)).select("repo", "path", "content_sha")


SQL_REPO_SHA = """
SELECT 'r' || (doc_id % 7)::VARCHAR AS repo,
       'src/f' || doc_id::VARCHAR || '.py' AS path,
       sha256('import f' || (doc_id + 7)::VARCHAR
              || chr(10) || '# deterministic synthetic source'
              || chr(10) || 'from f' || (doc_id + 14)::VARCHAR || ' import thing'
              || chr(10) || 'import f' || (doc_id + 21)::VARCHAR) AS content_sha
FROM documents
"""

QUERIES["repo_sha"] = q_repo_sha
ORACLES["repo_sha"] = SQL_REPO_SHA


def q_knn_degree(spark, sf_dir):
    """Degree-correlation curve k -> <k_nn> (average neighbor degree per
    degree class, Pastor-Satorras et al. 2001) on the symmetrized
    order-chain graph: the standard assortative/disassortative readout
    behind graph_stats' single assortativity coefficient. One edge join
    + two aggregates; 6-decimal rounding for cross-engine ranking."""
    ded = directed_edges(spark, sf_dir)
    sym = (
        ded.select("src", "dst")
        .unionByName(ded.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    ann = (
        sym.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("sdeg")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddeg")), "dst")
        .groupBy("src", "sdeg")
        .agg(F.avg("ddeg").alias("ann"))
    )
    return (
        ann.groupBy(F.col("sdeg").alias("deg"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.round(F.avg("ann"), 6).alias("knn_r"),
        )
    )


SQL_KNN_DEGREE = f"""
WITH {DEDGES_CTE},
sym AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM dedges UNION ALL SELECT dst, src FROM dedges)),
deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
ann AS (
  SELECT s.src, ds.deg AS sdeg, avg(dd.deg) AS ann
  FROM sym s JOIN deg ds ON ds.id = s.src JOIN deg dd ON dd.id = s.dst
  GROUP BY s.src, ds.deg
)
SELECT sdeg AS deg, count(*)::BIGINT AS n_vertices, round(avg(ann), 6) AS knn_r
FROM ann GROUP BY sdeg
"""

QUERIES["knn_degree"] = q_knn_degree
ORACLES["knn_degree"] = SQL_KNN_DEGREE


def q_repo_pagerank_top(spark, sf_dir):
    """The complete north-star pipeline as ONE oracled query: synthetic
    repos table -> derive_graph (regex extraction, dense ids,
    resolution) -> 3 rounds of FOG-mode PageRank -> top-3 files per
    repository (ranked on round(rank,5), path tie-break). Everything
    the north_rule names, end to end, hash-checked against the SQL
    replay."""
    from fog_spark.algorithms.pagerank import pagerank_fog
    from fog_spark.graph.derive import derive_graph

    g = derive_graph(repo_table(spark, sf_dir))
    edges = g.edges.select("src", "dst").persist()
    # only files with an out-edge are ranked (the oracle's rdeg)
    ranks = pagerank_fog(edges, edges.select(F.col("src").alias("id")).distinct(), niters=PR_ROUNDS)
    edges.unpersist()
    fx = g.files.select(F.col("id").alias("fid"), "repo", "path")
    ranked = ranks.join(fx, ranks["id"] == fx["fid"]).select(
        "repo", "path", F.round("rank", 5).alias("rank_r")
    )
    w = Window.partitionBy("repo").orderBy(F.desc("rank_r"), F.asc("path"))
    return (
        ranked.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("repo", "path", "rank_r", "rk")
    )


def _sql_repo_pagerank(k: int) -> str:
    ctes = [
        """rt AS (
  SELECT doc_id, 'r' || (doc_id % 7)::VARCHAR AS repo,
         'src/f' || doc_id::VARCHAR || '.py' AS path
  FROM documents
),
files AS (
  SELECT repo, path, row_number() OVER (ORDER BY repo, path) - 1 AS id
  FROM (SELECT DISTINCT repo, path FROM rt)
),
refs AS (
  SELECT repo, path, 'src/f' || (doc_id + 7)::VARCHAR || '.py' AS dst_path FROM rt
  UNION ALL
  SELECT repo, path, 'src/f' || (doc_id + 14)::VARCHAR || '.py' FROM rt
  UNION ALL
  SELECT repo, path, 'src/f' || (doc_id + 21)::VARCHAR || '.py' FROM rt
),
redges AS MATERIALIZED (
  SELECT DISTINCT s.id AS src, d.id AS dst
  FROM refs r
  JOIN files s ON s.repo = r.repo AND s.path = r.path
  JOIN files d ON d.repo = r.repo AND d.path = r.dst_path
),
rdeg AS (SELECT src AS id, count(*) AS outdeg FROM redges GROUP BY src),
p0 AS MATERIALIZED (SELECT id, outdeg, 1.0 AS rank FROM rdeg)""",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT r.id, r.outdeg, r.rank + coalesce(m.s, 0) AS rank "
            f"FROM p{i-1} r LEFT JOIN (SELECT e.dst, sum(0.85 * r.rank / r.outdeg + 0.15) AS s "
            f"FROM redges e JOIN p{i-1} r ON e.src = r.id GROUP BY e.dst) m ON r.id = m.dst)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f""",
ranked AS (
  SELECT f.repo, f.path, round(p.rank, 5) AS rank_r,
         row_number() OVER (PARTITION BY f.repo ORDER BY round(p.rank, 5) DESC, f.path ASC) AS rk
  FROM p{k} p JOIN files f ON f.id = p.id
)
SELECT repo, path, rank_r, rk FROM ranked WHERE rk <= 3
"""
    )


QUERIES["repo_pagerank_top"] = q_repo_pagerank_top
ORACLES["repo_pagerank_top"] = _sql_repo_pagerank(PR_ROUNDS)


def q_triad_full(spark, sf_dir):
    """The COMPLETE 16-type Holland-Leinhardt triad census
    (algorithms/triads.triad_census_full): connected classes by
    enumeration, the three unlinked classes (mutual/asym dyad +
    isolate, empty) by exact census arithmetic over dyad counts and
    per-dyad neighborhood unions — no O(n^3) anywhere."""
    from fog_spark.algorithms.triads import triad_census_full

    return triad_census_full(directed_edges(spark, sf_dir))


def _sql_triad_full() -> str:
    from fog_spark.algorithms.triads import canonical_code_sql

    base = _sql_triads()
    chain = base[: base.index("\nSELECT ")]
    return (
        chain
        + f""",
conn AS (SELECT {canonical_code_sql()} AS triad_code, count(*) AS n_triads FROM f GROUP BY 1),
deg AS (SELECT v, count(*) AS deg FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v),
wedgec AS (
  SELECT l1.p AS a, l2.q AS b, count(*) AS common
  FROM l l1 JOIN (SELECT m, p AS q FROM l) l2 ON l2.m = l1.m AND l1.p < l2.q
  GROUP BY 1, 2
),
mut AS (SELECT e.src AS a, e.dst AS b FROM dedges e
        JOIN dedges r ON r.src = e.dst AND r.dst = e.src WHERE e.src < e.dst),
dy AS (
  SELECT (m.a IS NOT NULL) AS mut,
         da.deg + db.deg - coalesce(w.common, 0) - 2 AS lt
  FROM und u
  LEFT JOIN mut m ON m.a = u.a AND m.b = u.b
  JOIN deg da ON da.v = u.a
  JOIN deg db ON db.v = u.b
  LEFT JOIN wedgec w ON w.a = u.a AND w.b = u.b
),
nv AS (SELECT count(*) AS n FROM (SELECT DISTINCT a AS v FROM und UNION SELECT b FROM und)),
iso AS (SELECT mut, sum(n - 2 - lt) AS cnt FROM dy, nv GROUP BY mut),
contot AS (SELECT coalesce(sum(n_triads), 0) AS c FROM conn),
isotot AS (SELECT coalesce(sum(cnt), 0) AS i FROM iso),
alltot AS (SELECT n * (n - 1) * (n - 2) // 6 AS t FROM nv)
SELECT triad_code::INT AS triad_code, n_triads::BIGINT AS n_triads FROM (
  SELECT triad_code, n_triads FROM conn
  UNION ALL SELECT 3, cnt FROM iso WHERE mut
  UNION ALL SELECT 1, cnt FROM iso WHERE NOT mut
  UNION ALL SELECT 0, t - c - i FROM alltot, contot, isotot
) WHERE n_triads > 0
"""
    )


QUERIES["triad_full"] = q_triad_full
ORACLES["triad_full"] = _sql_triad_full()


def q_event_bursts(spark, sf_dir):
    """Activity-burst detection per user (Kleinberg-style rate anomaly,
    integer-exact): hourly event counts; an hour bursts when its count
    exceeds 1.5x the user's average active-hour rate — compared by
    integer cross-multiplication (2 * cnt * n_hours > 3 * total), so
    the oracle replays with zero float risk — with a floor of 3 events
    (the synthetic feed is thin: hourly counts top out at ~3, so the
    threshold is calibrated to fire on its true hot hours)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h")
    )
    cnts = ev.groupBy("user_id", "h").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnts.groupBy("user_id").agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_hours")
    )
    return (
        cnts.join(tot, "user_id")
        .where((2 * F.col("cnt") * F.col("n_hours") > 3 * F.col("total")) & (F.col("cnt") >= 3))
        .select("user_id", F.col("h").alias("hour_epoch"), F.col("cnt").cast("long").alias("cnt"))
    )


SQL_EVENT_BURSTS = """
WITH c AS (
  SELECT user_id, epoch(date_trunc('hour', ts))::BIGINT AS h, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
t AS (SELECT user_id, sum(cnt) AS total, count(*) AS n_hours FROM c GROUP BY user_id)
SELECT c.user_id, c.h AS hour_epoch, c.cnt::BIGINT AS cnt
FROM c JOIN t USING (user_id)
WHERE 2 * c.cnt * t.n_hours > 3 * t.total AND c.cnt >= 3
"""

QUERIES["event_bursts"] = q_event_bursts
ORACLES["event_bursts"] = SQL_EVENT_BURSTS


# ---------------------------------------------------------------------------
# round 5: PMI token-pair association (corpus collocation mining)
# ---------------------------------------------------------------------------

PMI_MIN_PAIR = 20
PMI_TOPK = 50


def q_token_pmi(spark, sf_dir):
    """Top-50 token collocations by pointwise mutual information over
    document co-occurrence (distinct tokens per doc; pairs generated
    ONLY through the shared document — the wedge-join shape again).
    pmi_r = round(ln(n_pairs_universe * c_ab / (c_a * c_b)), 6) with
    ranking on the rounded value, pair ids as tie-break.

    Long-tail prune BEFORE the pair join: cab <= min(ca, cb), so a
    token with corpus count < PMI_MIN_PAIR can never appear in a
    surviving pair — the semi-join against the frequent vocabulary
    removes the singleton-dominated tail from the per-doc self-join's
    input (value-neutral: the oracle's post-aggregation HAVING keeps
    the equivalent declarative form). The token table is checkpointed
    once — four consumers (n_docs, counts, both join sides) would
    otherwise each re-run tokenization + distinct."""
    tok = doc_tokens(spark, sf_dir).select("doc_id", "t").distinct().localCheckpoint(eager=True)
    n_docs = tok.select("doc_id").distinct().count()
    cnt = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=True)
    keep = cnt.filter(F.col("c") >= PMI_MIN_PAIR).select("t")
    ptok = tok.join(keep, "t", "left_semi")
    a = ptok.select("doc_id", F.col("t").alias("ta"))
    b = ptok.select("doc_id", F.col("t").alias("tb"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= PMI_MIN_PAIR)
    )
    scored = (
        pairs.join(cnt.select(F.col("t").alias("ta"), F.col("c").alias("ca")), "ta")
        .join(cnt.select(F.col("t").alias("tb"), F.col("c").alias("cb")), "tb")
        .select(
            "ta", "tb", F.col("cab").cast("long").alias("cab"),
            F.round(
                F.log(F.lit(float(n_docs)) * F.col("cab") / (F.col("ca") * F.col("cb"))), 6
            ).alias("pmi_r"),
        )
    )
    # TakeOrdered first (distributed top-K), THEN the rank window over
    # the <= K survivors — the global row_number never sees the full
    # candidate set (the sweep_cut discipline)
    top = scored.orderBy(F.desc("pmi_r"), F.asc("ta"), F.asc("tb")).limit(PMI_TOPK)
    w = Window.orderBy(F.desc("pmi_r"), F.asc("ta"), F.asc("tb"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "rk", "ta", "tb", "cab", "pmi_r"
    )


SQL_TOKEN_PMI = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents
),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
pairs AS (
  SELECT a.t AS ta, b.t AS tb, count(*) AS cab
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
  GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_PAIR}
),
scored AS (
  SELECT ta, tb, cab::BIGINT AS cab,
         round(ln(nd.n::DOUBLE * cab / (ca.c * cb.c)), 6) AS pmi_r
  FROM pairs
  JOIN cnt ca ON ca.t = ta
  JOIN cnt cb ON cb.t = tb, nd
)
SELECT rk::INT AS rk, ta, tb, cab, pmi_r FROM (
  SELECT *, row_number() OVER (ORDER BY pmi_r DESC, ta ASC, tb ASC) AS rk FROM scored
) WHERE rk <= {PMI_TOPK}
"""

QUERIES["token_pmi"] = q_token_pmi
ORACLES["token_pmi"] = SQL_TOKEN_PMI
