"""Directed triad census over connected triples (Holland-Leinhardt
census, Batagelj-Mrvar enumeration).

Every unordered vertex triple with at least two linked dyads is
enumerated exactly once through the undirected wedge join (a triple
with k>=2 linked dyads has a 'center' adjacent to both others; DISTINCT
on the sorted triple collapses the 1 or 3 wedges it generates). Each
triple's six possible directed edges form a 6-bit code, and its
isomorphism class is the MINIMUM code over the 6 vertex permutations —
a closed-form least() of six integers, so NO hand-derived lookup table
exists to get wrong, and the SQL oracle computes the identical algebra.
The 13 connected triad types of the classical census are exactly the
distinct canonical codes that can appear here (the three unlinked
types — 003/012/102 — have <2 linked dyads and are census arithmetic,
not enumeration; they are intentionally out of scope).

Bit layout for the sorted triple (x < y < z):
    1: x->y   2: y->x   4: x->z   8: z->x   16: y->z   32: z->y
"""

from __future__ import annotations

from itertools import permutations

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.triangles import _undirected

# bit index of the directed edge (i, j) between triple positions 0,1,2
_BIT = {(0, 1): 1, (1, 0): 2, (0, 2): 4, (2, 0): 8, (1, 2): 16, (2, 1): 32}


def _perm_exprs():
    """For each of the 6 permutations, the column expression computing
    the triple's code after relabeling positions by that permutation."""
    flags = {b: F.col(f"b{b}") for b in _BIT.values()}
    exprs = []
    for perm in permutations(range(3)):
        total = F.lit(0)
        for (i, j), bit in _BIT.items():
            # edge occupying (i, j) after relabeling came from (perm[i], perm[j])
            total = total + F.when(flags[_BIT[(perm[i], perm[j])]], bit).otherwise(0)
        exprs.append(total)
    return exprs


def canonical_code_sql(prefix: str = "") -> str:
    """The identical least()-of-permutations algebra as one SQL scalar
    over boolean columns b1..b32 (DuckDB oracle twin)."""
    terms = []
    for perm in permutations(range(3)):
        parts = [
            f"(CASE WHEN {prefix}b{_BIT[(perm[i], perm[j])]} THEN {bit} ELSE 0 END)"
            for (i, j), bit in _BIT.items()
        ]
        terms.append("(" + " + ".join(parts) + ")")
    return "least(" + ", ".join(terms) + ")"


def triad_census(edges: DataFrame) -> DataFrame:
    """(triad_code, n_triads): canonical-code counts over all triples
    with >= 2 linked dyads.

    ONE pass over the O(Σ deg²) triple stream: every linked unordered
    pair carries its two direction bits (lo→hi, hi→lo) from a single
    aggregation, the bits ride THROUGH the wedge join, and the third
    dyad is attached with one left join — so the giant wedge stream
    crosses exactly two exchanges (third-dyad join + the triple
    distinct) instead of the seven a probe-per-bit chain of six
    sequential joins costs. Duplicated triples (a triangle enumerates
    via 3 centers) carry identical bit columns — all six bits are
    functions of the triple's own dyads — so the sorted-triple DISTINCT
    collapses them exactly as before.

    This wedge stays its own: it carries direction bits per wedge and
    never aggregates, so the shared triangle stream does not fit it."""
    d = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # per linked unordered pair (a < b): does a→b / b→a exist — one agg
    links = (
        d.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            (F.col("src") < F.col("dst")).alias("isf"),
        )
        .groupBy("a", "b")
        .agg(F.max("isf").alias("fab"), F.max(~F.col("isf")).alias("fba"))
        .localCheckpoint(eager=False)
    )
    # wedge through a center m, direction bits carried along
    l1 = links.select(
        F.col("a").alias("m"), F.col("b").alias("p"),
        F.col("fab").alias("mp"), F.col("fba").alias("pm"),
    ).unionByName(
        links.select(
            F.col("b").alias("m"), F.col("a").alias("p"),
            F.col("fba").alias("mp"), F.col("fab").alias("pm"),
        )
    )
    l2 = l1.select(
        F.col("m"), F.col("p").alias("q"), F.col("mp").alias("mq"), F.col("pm").alias("qm")
    )
    wedges = l1.join(l2, "m").where(F.col("p") < F.col("q"))
    # third dyad (p, q) — p < q matches links' (a < b) orientation
    pq = links.select(
        F.col("a").alias("p"), F.col("b").alias("q"),
        F.col("fab").alias("pq"), F.col("fba").alias("qp"),
    )
    t = wedges.join(pq, ["p", "q"], "left").select(
        "m", "p", "q", "mp", "pm", "mq", "qm",
        F.coalesce("pq", F.lit(False)).alias("pq"),
        F.coalesce("qp", F.lit(False)).alias("qp"),
    )
    # sort the triple and route each dyad's bits to its (x,y,z) slots
    x = F.least("m", "p", "q")
    # median of three: max(min(m,p), min(max(m,p), q))
    y = F.greatest(F.least("m", "p"), F.least(F.greatest("m", "p"), F.col("q")))
    z = F.greatest("m", "p", "q")
    dyads = [
        (F.least("m", "p"), F.greatest("m", "p"),
         F.when(F.col("m") < F.col("p"), F.col("mp")).otherwise(F.col("pm")),
         F.when(F.col("m") < F.col("p"), F.col("pm")).otherwise(F.col("mp"))),
        (F.least("m", "q"), F.greatest("m", "q"),
         F.when(F.col("m") < F.col("q"), F.col("mq")).otherwise(F.col("qm")),
         F.when(F.col("m") < F.col("q"), F.col("qm")).otherwise(F.col("mq"))),
        (F.col("p"), F.col("q"), F.col("pq"), F.col("qp")),
    ]

    def _bit(lo, hi, forward: bool):
        expr = F.lit(False)
        for dlo, dhi, dfwd, dbwd in dyads:
            expr = F.when((dlo == lo) & (dhi == hi), dfwd if forward else dbwd).otherwise(expr)
        return expr

    t2 = t.select(
        x.alias("x"), y.alias("y"), z.alias("z"),
        _bit(x, y, True).alias("b1"), _bit(x, y, False).alias("b2"),
        _bit(x, z, True).alias("b4"), _bit(x, z, False).alias("b8"),
        _bit(y, z, True).alias("b16"), _bit(y, z, False).alias("b32"),
    ).distinct()
    code = F.least(*_perm_exprs())
    return (
        t2.select(code.alias("triad_code"))
        .groupBy("triad_code")
        .agg(F.count(F.lit(1)).alias("n_triads"))
    )


def triad_census_full(edges: DataFrame) -> DataFrame:
    """(triad_code, n_triads) over ALL vertex triples — the complete
    16-type Holland-Leinhardt census. The 13 connected classes come
    from ``triad_census``'s enumeration; the three unlinked classes are
    exact census arithmetic, never enumerated:

        code 3 (mutual dyad + isolate, '102')     per mutual dyad (a,b):
        code 1 (asym dyad + isolate, '012')       per asym dyad:
            n - 2 - |N(a) ∪ N(b) \\ {a,b}|   isolates, where the union
            size is deg(a) + deg(b) - common(a,b) - 2 on the undirected
            link graph (b ∈ N(a) and a ∈ N(b) always, never in the
            intersection — no self loops);
        code 0 (empty, '003') = C(n,3) minus everything else.

    The per-dyad common-neighbor count is one wedge join — the same
    O(sum deg^2) shape as the connected enumeration, nothing heavier.
    It is not ``triangles.edge_support``: on the order-chain query input
    that path's cached orientation costs 39 Spark jobs against 26 and
    ~0.8 s more per call, more than the oriented stream saves there.
    """
    spark = edges.sparkSession
    connected = triad_census(edges).localCheckpoint(eager=False)

    d = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct() \
        .localCheckpoint(eager=False)
    und = _undirected(d).localCheckpoint(eager=False)
    deg = (
        und.select(F.col("a").alias("v")).unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    )
    # common neighbors per linked dyad: the undirected wedge join
    l = und.select(F.col("a").alias("m"), F.col("b").alias("p")).unionByName(
        und.select(F.col("b").alias("m"), F.col("a").alias("p"))
    )
    wedge = (
        l.join(l.select(F.col("m"), F.col("p").alias("q")), "m")
        .where(F.col("p") < F.col("q"))
        .groupBy(F.col("p").alias("a"), F.col("q").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # mutual iff both directions present in the simple directed graph
    rev = d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = d.join(rev, ["src", "dst"], "left_semi").select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).where(F.col("a") < F.col("b"))
    dyads = (
        und.join(mutual.withColumn("mut", F.lit(True)), ["a", "b"], "left")
        .join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
        .join(wedge, ["a", "b"], "left")
        .select(
            F.coalesce("mut", F.lit(False)).alias("mut"),
            (F.col("da") + F.col("db") - F.coalesce("common", F.lit(0)) - 2).alias("linked_thirds"),
        )
    )
    n = und.select(F.col("a").alias("v")).unionByName(
        und.select(F.col("b").alias("v"))
    ).distinct().count()
    iso = dyads.groupBy("mut").agg(
        F.sum(F.lit(n) - 2 - F.col("linked_thirds")).alias("cnt"),
        F.count(F.lit(1)).alias("n_dyads"),
    )
    rows = {r["mut"]: (int(r["cnt"]), int(r["n_dyads"])) for r in iso.collect()}
    n102, n_mut = rows.get(True, (0, 0))
    n012, n_asym = rows.get(False, (0, 0))
    conn_rows = [(int(r["triad_code"]), int(r["n_triads"])) for r in connected.collect()]
    total = n * (n - 1) * (n - 2) // 6
    n003 = total - sum(c for _, c in conn_rows) - n102 - n012
    out = conn_rows + [(3, n102), (1, n012), (0, n003)]
    return spark.createDataFrame(
        [(c, x) for c, x in out if x > 0], "triad_code int, n_triads long"
    )
