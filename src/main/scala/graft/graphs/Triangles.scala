package graft.graphs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle census of the link graph: edge count, wedge count, triangle
  * count, and the global clustering coefficient (3T/wedges) — the
  * connectivity-quality readout next to [[PageRank]]'s centrality and the
  * degree moments.
  *
  * Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii,
  * "Counting Triangles and the Curse of the Last Reducer", WWW 2011; the
  * MapReduce form of Chiba–Nishizeki): orient every undirected edge from
  * its lower-(degree, id) endpoint to the higher, enumerate wedges as
  * pairs of OUT-edges sharing a source, and close each wedge against the
  * canonical edge set. Every triangle has exactly one rank-minimal
  * vertex, so it is counted exactly once — no post-hoc division, all
  * integer, fully oracle-replayable.
  *
  * Scale design (100 TB): the naive wedge join pairs neighbors of every
  * vertex — a hub with degree d contributes d² wedges and one reducer
  * inherits the whole hub ("the curse of the last reducer"). The
  * orientation bounds every ORIENTED out-degree by O(√m) on any graph
  * (a vertex with out-degree t has t neighbors of degree ≥ its own, so
  * t² ≤ 2m), so wedge generation is O(m^1.5) worst-case and hub wedges
  * redistribute to their (higher-ranked, lower-fanout) endpoints. The
  * plan is: one parse+distinct of the edge list (checkpointed for its
  * three consumers), a two-row-per-edge degree aggregate, the oriented
  * self-join on the shared source, and one closure hash-join against the
  * canonical edges — three shuffles total, each partial-aggregated or
  * equi-keyed; the three census scalars cross-join as broadcast one-row
  * frames (no driver action).
  *
  * Closure-join regime: at fixture scale Catalyst broadcasts the edge
  * side (optimal — the wedge stream never shuffles). At cluster scale
  * the edge side exceeds any broadcast budget and the join must shuffle
  * the WEDGE STREAM — the algorithm's dominant intermediate; there, run
  * with `spark.sql.join.preferSortMergeJoin=false` so the closure (and
  * the wedge self-join) execute as shuffled-HASH joins: sorting O(m^1.5)
  * wedge rows is pure waste when a per-partition hash build of the
  * smaller edge side suffices. The scale probe measures exactly that
  * forced regime at both factors (per-wedge CPU constant, 0.47 µs — see
  * the PROFILE_SCALE attribution note).
  */
object Triangles {

  /** The ONE spelling of the canonical undirected edge frame `(a, b)`
    * with a < b (duplicate-free via [[PageRank.edges]]' distinct;
    * self-loops dropped by the strict inequality) — shared by the exact
    * census, the DOULION twin, and the scale-probe fixture so an
    * edge-derivation change cannot silently diverge them (review r15;
    * the [[PageRank.edgesCteSql]] argument on the Spark side).
    */
  private[graft] def canonicalEdges(events: DataFrame): DataFrame =
    PageRank.edges(events)
      .filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))

  /** One-row census frame:
    * (n_edges, n_wedges, n_triangles, closure_permille).
    */
  def stats(events: DataFrame): DataFrame =
    statsFromUndirected(canonicalEdges(events))

  /** The census over a prepared canonical edge frame `(a, b)` with a < b
    * — the seam the scale probe drives with a both-endpoints-shifted
    * exploded edge list (shifting only user ids, as the events explode
    * does, would leave `props.k` nodes shared across copies and turn
    * them into k×-degree hubs — a different graph, not a scaled one).
    */
  private[graft] def statsFromUndirected(canonical: DataFrame): DataFrame = {
    // self-loops cannot close a triangle and are dropped by the strict
    // inequality upstream; three consumers — degrees, orientation, the
    // closure probe
    val und = canonical.localCheckpoint(false)
    // three consumers (two orientation joins + the wedge-count
    // aggregate): pin the O(m)-row groupBy by construction, not by
    // hoping exchange reuse fires (review r15 — the KmvSketch rule)
    val deg = degrees(und).localCheckpoint(false)
    val oriented = orient(und, deg).localCheckpoint(false)
    wedgeClose(und, deg, oriented)
  }

  /** Undirected degrees of the canonical edge frame. */
  private[graphs] def degrees(und: DataFrame): DataFrame =
    und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** Orient each edge from its lower-(degree, id) endpoint — a total
    * order, so orientation is deterministic and acyclic. Exposed so the
    * out-degree-bound spec measures the SHIPPED orientation, not an
    * inline re-spell (review r15).
    */
  private[graphs] def orient(und: DataFrame, deg: DataFrame): DataFrame =
    und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  /** The closed triangles (u, p, q) of an oriented frame: out-neighbor
    * pairs per source (each unordered pair once, by node id) closed
    * against the canonical edges — the ONE spelling of the wedge+closure
    * joins, shared by the global census and the per-vertex counts
    * (review r15: a censoring fix applied to one copy must reach both).
    */
  private def closedTriangles(und: DataFrame, oriented: DataFrame): DataFrame =
    oriented.as("x").join(oriented.as("y"),
      col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("u"), col("x.v").as("p"), col("y.v").as("q"))
      .join(und, col("p") === col("a") && col("q") === col("b"))
      .select(col("u"), col("p"), col("q"))

  private def wedgeClose(
      und: DataFrame, deg: DataFrame, oriented: DataFrame): DataFrame = {
    val tri = closedTriangles(und, oriented)
    val eCnt = und.agg(count(lit(1)).as("n_edges"))
    val wCnt = deg.agg(
      sum(expr("(deg * (deg - 1)) div 2")).cast("long").as("n_wedges"))
    val tCnt = tri.agg(count(lit(1)).as("n_triangles"))
    eCnt.crossJoin(broadcast(wCnt)).crossJoin(broadcast(tCnt))
      .select(
        col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("(3000 * n_triangles) div greatest(n_wedges, 1L)")
          .as("closure_permille"))
  }

  /** Per-vertex triangle counts and LOCAL clustering coefficients
    * (Watts–Strogatz 1998): lcc(v) = 2·T(v) / (d(v)·(d(v)−1)) in
    * permille, 0 for degree-<2 vertices — the per-node connectivity-
    * quality readout next to the global census. Same orientation/wedge/
    * closure pipeline; each closed triangle {u, p, q} then explodes to
    * its three vertices and a |V|-bounded aggregate counts per node —
    * one extra narrow shuffle over the (few) triangles, everything else
    * shared with [[stats]].
    */
  def localClustering(events: DataFrame): DataFrame = {
    val und = canonicalEdges(events).localCheckpoint(false)
    val deg = degrees(und).localCheckpoint(false)
    val oriented = orient(und, deg).localCheckpoint(false)
    val triVerts = closedTriangles(und, oriented)
      .select(explode(array(col("u"), col("p"), col("q"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    deg.join(triVerts, Seq("v"), "left")
      .select(
        col("v"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc_permille",
        when(col("deg") < 2, lit(0L))
          .otherwise(expr("(2000 * n_tri) div (deg * (deg - 1))")))
  }

  /** The ONE DuckDB spelling of the census pipeline over the canonical
    * edges passing `keep` (a predicate over `a`, `b`; TRUE for the exact
    * census): [[canonicalEdges]] → [[degrees]] → [[orient]] →
    * [[closedTriangles]] as the CTEs `und`, `deg`, `j`/`o`, `w`/`t (u, p, q)`.
    * Every census oracle composes THIS, so an orientation or closure
    * change reaches the exact, clustering and sampled gates at once.
    */
  private def censusCteSql(keep: String): String =
    s"""${PageRank.edgesCteSql},
       |und AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst AND ($keep)),
       |deg AS (
       |  SELECT v, count(*) AS deg
       |  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
       |  GROUP BY v),
       |j AS (
       |  SELECT und.a, und.b, x.deg AS da, y.deg AS db
       |  FROM und JOIN deg x ON x.v = und.a JOIN deg y ON y.v = und.b),
       |o AS (
       |  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
       |         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
       |  FROM j),
       |w AS (SELECT x.u AS u, x.v AS p, y.v AS q
       |      FROM o x JOIN o y ON x.u = y.u AND x.v < y.v),
       |t AS (SELECT u, p, q FROM w JOIN und ON p = a AND q = b)""".stripMargin

  def localClusteringOracleSql: String =
    s"""WITH ${censusCteSql("TRUE")},
       |tv AS (
       |  SELECT v, count(*) AS n_tri
       |  FROM (SELECT u AS v FROM t UNION ALL SELECT p FROM t UNION ALL SELECT q FROM t)
       |  GROUP BY v)
       |SELECT d.v, d.deg, coalesce(tv.n_tri, 0) AS n_tri,
       |       CASE WHEN d.deg < 2 THEN 0
       |            ELSE (2000 * coalesce(tv.n_tri, 0)) // (d.deg * (d.deg - 1)) END
       |         AS lcc_permille
       |FROM deg d LEFT JOIN tv USING (v) ORDER BY d.v""".stripMargin

  /** DOULION sampled triangle census (Tsourakakis et al., "DOULION:
    * Counting Triangles in Massive Graphs with a Coin", KDD 2009),
    * deterministic: keep each CANONICAL edge by the edge-atomic universe
    * predicate at rate p, run the same census on the kept subgraph, and
    * scale — a surviving edge has probability p, a surviving triangle
    * p³ (its three edges hash independently), so the Horvitz–Thompson
    * estimates are seen·(1/p) edges and seen·(1/p)³ triangles, both
    * integer for the divisor rates ([[graft.sampling.UniverseSampled
    * .scaleFor]]). The md5 predicate replays in the oracle, so the
    * approximate answer itself is hash-gated — the engine's sampled-twin
    * discipline applied to the graph census. At 100 TB this is the
    * practical regime: the wedge stage costs O(m^1.5) on the KEPT
    * subgraph, i.e. ~p^1.5 of the exact cost for ~p^-1.5·σ relative
    * error (DOULION §4: variance ≈ T/p³ for triangle-sparse graphs).
    */
  def statsSampledU(events: DataFrame, pct: Int = 10): DataFrame = {
    val inv = graft.sampling.UniverseSampled.scaleFor(pct)
    val kept = canonicalEdges(events)
      .filter(graft.sampling.UniverseSampled.keep(
        concat_ws("_", col("a"), col("b")), pct))
    statsFromUndirected(kept)
      .select(
        col("n_edges").as("n_edges_seen"),
        col("n_triangles").as("n_triangles_seen"),
        (col("n_edges") * lit(inv)).as("est_edges"),
        (col("n_triangles") * lit(inv * inv * inv)).as("est_triangles"))
  }

  /** DuckDB oracle for [[statsSampledU]]: [[statsOracleSql]]'s census over
    * the kept edges, scaled as the Spark twin scales it.
    */
  def statsSampledUOracleSql(pct: Int = 10): String = {
    val inv = graft.sampling.UniverseSampled.scaleFor(pct)
    val keep = graft.sampling.UniverseSampled.keepSql(
      "CAST(a AS VARCHAR) || '_' || CAST(b AS VARCHAR)", pct)
    s"""SELECT n_edges AS n_edges_seen, n_triangles AS n_triangles_seen,
       |       n_edges * $inv AS est_edges,
       |       n_triangles * ${inv * inv * inv} AS est_triangles
       |FROM (${statsSql(keep)})""".stripMargin
  }

  /** DuckDB replay: the same orientation, wedge enumeration, and closure
    * probe over the shared edges CTE.
    */
  def statsOracleSql: String = statsSql("TRUE")

  /** The census row over the canonical edges passing `keep`. */
  private def statsSql(keep: String): String =
    s"""WITH ${censusCteSql(keep)},
       |e AS (SELECT count(*) AS n_edges FROM und),
       |wc AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
       |tc AS (SELECT count(*) AS n_triangles FROM t)
       |SELECT e.n_edges, wc.n_wedges, tc.n_triangles,
       |       (3000 * tc.n_triangles) // greatest(wc.n_wedges, 1) AS closure_permille
       |FROM e, wc, tc""".stripMargin
}
