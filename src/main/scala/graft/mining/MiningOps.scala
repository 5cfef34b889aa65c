package graft.mining

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.{Artifacts, Ranks}

/** Classic data-mining operators the reference course (Data-warehouse-
  * data-mining) teaches alongside classification: association rules,
  * k-means clustering, and link analysis. The reference ships only the
  * classification half (stroke_predict.py, smote_sampling.py); these
  * complete the curriculum as first-class, oracle-gated queries
  * (SURVEY.md §2 "beyond the reference" mandate).
  *
  * Engine-portability doctrine (CLAUDE.md): every iterative numeric op
  * here runs in EXACT integer/decimal arithmetic — scaled-integer
  * PageRank (`div` floors identically in Spark and DuckDB on
  * non-negatives), cross-multiplied squared distances for k-means
  * (no division ever happens, so no rounding divergence exists), and
  * integer support thresholds for association rules (100·cnt ≥ n, not
  * a double fraction). Doubles appear only in final reporting columns,
  * rounded to 6 decimals on both sides.
  */
object MiningOps {

  // ---- FM1: association rules (frequent brand pairs) ---------------------
  /** Market-basket association rules over order baskets: each order is a
    * basket of the part BRANDS it touches (brand, not partkey — the
    * ~25-value vocabulary is what makes co-occurrence statistically
    * meaningful; raw partkeys at SF 100 are near-unique per basket).
    *
    * Plan shape, scale-first:
    *  - basket build: lineitem ⋈ part is a BROADCAST join (part is a
    *    dimension; at 100 TB the brand dictionary still fits any
    *    executor), then distinct (order, brand) — one shuffle on the
    *    order key, map-side partials first.
    *  - pair counts: self-equi-join of baskets on the order key —
    *    one shuffle of the slim (order, brand) frame per side;
    *    `brand_a < brand_b` keeps one orientation.
    *    Pairs per basket are bounded by C(|vocab|,2) ≤ 300 — the
    *    quadratic term is capped by the VOCABULARY, not the basket, so
    *    the blow-up factor is a constant at any corpus size.
    *  - supports: the item-count frame is ≤ |vocab| rows — broadcast
    *    back onto pairs for confidence/lift. Nothing driver-side.
    *
    * Support gate is exact integer arithmetic: keep pairs with
    * 100·cnt ≥ n_baskets (support ≥ 1%). Confidence/lift are double
    * divisions of identical longs in both engines (same IEEE result),
    * rounded to 6.
    */
  def associationRules(baskets: DataFrame, idCol: String, itemCol: String,
      minSupPct: Int = 1): DataFrame = {
    require(minSupPct >= 1 && minSupPct <= 100, "minSupPct in [1,100]")
    // materialize the deduped basket table ONCE: it feeds the total, the
    // item supports, and both sides of the pair self-join — without this
    // the dim-join + distinct runs four times (localCheckpoint(eager) is
    // the scoped-persist idiom; ContextCleaner frees the blocks).
    val b = baskets
      .select(col(idCol).as("bid"), col(itemCol).as("item")).distinct()
      .localCheckpoint(true)
    val nB = b.select(countDistinct(col("bid")).as("n_baskets"))
    val items = b.groupBy(col("item")).agg(count(lit(1)).as("item_cnt"))
    val pairs = b.as("l").join(b.as("r"),
        col("l.bid") === col("r.bid") && col("l.item") < col("r.item"))
      .groupBy(col("l.item").as("ia"), col("r.item").as("ib"))
      .agg(count(lit(1)).as("pair_cnt"))
    val frequent = pairs.crossJoin(broadcast(nB))
      .filter(col("pair_cnt") * 100 >= col("n_baskets") * minSupPct)
    // both rule directions from each surviving unordered pair
    val directed = frequent.select(col("ia").as("antecedent"),
        col("ib").as("consequent"), col("pair_cnt"), col("n_baskets"))
      .unionByName(frequent.select(col("ib").as("antecedent"),
        col("ia").as("consequent"), col("pair_cnt"), col("n_baskets")))
    directed
      .join(broadcast(items.withColumnRenamed("item", "antecedent")
        .withColumnRenamed("item_cnt", "ante_cnt")), "antecedent")
      .join(broadcast(items.withColumnRenamed("item", "consequent")
        .withColumnRenamed("item_cnt", "cons_cnt")), "consequent")
      .select(col("antecedent"), col("consequent"), col("pair_cnt"),
        col("ante_cnt"), col("cons_cnt"),
        round(col("pair_cnt").cast("double") / col("ante_cnt"), 6)
          .as("confidence"),
        // lift as (pc/ante)·(n/cons): two IEEE divisions and a multiply —
        // bit-identical in both engines AND no long·long overflow at any
        // basket count (pc·n would overflow past 10^10 baskets)
        round((col("pair_cnt").cast("double") / col("ante_cnt")) *
          (col("n_baskets").cast("double") / col("cons_cnt")), 6)
          .as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  private def fm1Rules(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val pt = Tables.part(s, d)
    val baskets = li.join(broadcast(pt),
        li("l_partkey") === pt("p_partkey"))
      .select(col("l_orderkey").as("bid"), col("p_brand").as("item"))
    associationRules(baskets, "bid", "item", minSupPct = 1)
  }

  private val fm1Sql =
    """WITH b AS (
      |  SELECT DISTINCT l_orderkey AS bid, p_brand AS item
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |nb AS (SELECT COUNT(DISTINCT bid) AS n_baskets FROM b),
      |items AS (SELECT item, COUNT(*) AS item_cnt FROM b GROUP BY item),
      |pairs AS (
      |  SELECT l.item AS ia, r.item AS ib, COUNT(*) AS pair_cnt
      |  FROM b l JOIN b r ON l.bid = r.bid AND l.item < r.item
      |  GROUP BY l.item, r.item),
      |freq AS (
      |  SELECT ia, ib, pair_cnt, n_baskets FROM pairs, nb
      |  WHERE pair_cnt * 100 >= n_baskets * 1),
      |directed AS (
      |  SELECT ia AS antecedent, ib AS consequent, pair_cnt, n_baskets
      |    FROM freq
      |  UNION ALL
      |  SELECT ib, ia, pair_cnt, n_baskets FROM freq)
      |SELECT antecedent, consequent,
      |  CAST(pair_cnt AS BIGINT) AS pair_cnt,
      |  CAST(a.item_cnt AS BIGINT) AS ante_cnt,
      |  CAST(c.item_cnt AS BIGINT) AS cons_cnt,
      |  ROUND(CAST(pair_cnt AS DOUBLE) / a.item_cnt, 6) AS confidence,
      |  ROUND((CAST(pair_cnt AS DOUBLE) / a.item_cnt) *
      |    (CAST(n_baskets AS DOUBLE) / c.item_cnt), 6) AS lift
      |FROM directed
      |JOIN items a ON a.item = antecedent
      |JOIN items c ON c.item = consequent
      |ORDER BY antecedent, consequent""".stripMargin

  // ---- KM1: k-means clustering (exact-arithmetic Lloyd) ------------------
  /** Lloyd's k-means, k = 3, `iters` assignment rounds, engine-portable
    * by construction: a centroid is carried as the exact rational
    * (count, sum_x, sum_y) — NEVER divided — and "nearest centroid" is
    * decided by cross-multiplied squared distances:
    *
    *   dist_j ≤ dist_l  ⟺  [(c_j·x−sx_j)² + (c_j·y−sy_j)²] · c_l²
    *                       ≤ [(c_l·x−sx_l)² + (c_l·y−sy_l)²] · c_j²
    *
    * in DECIMAL(38,0) (HUGEINT on the DuckDB side), so both engines make
    * the IDENTICAL assignment at every iteration — no double rounding
    * zone exists anywhere in the loop. Ties go to the lower cluster id
    * (the ≤ chain), and an empty cluster (null centroid after pivot) is
    * treated as infinitely far rather than erroring.
    *
    * Seeds are rank-deterministic: the points at row_number positions
    * (n·1)/6, (n·3)/6, (n·5)/6 under the total order (x, y, id) — both
    * engines compute the same row_number, so the same seeds. The rank is
    * computed DISTRIBUTED via [[graft.util.Ranks.distributedRank]] (the
    * t14 band-parallel doctrine: approximate band boundaries, exact
    * within-band rank + prefix-sum offset), so the registered plan holds
    * NO partition-less WindowExec — the round-6 verdict's one remaining
    * scale cliff. n comes from one bounded count() action.
    *
    * Scale: each iteration is crossJoin(broadcast(one-row pivoted
    * centroid frame)) — a MAP-ONLY assignment — followed by one map-side-
    * partial groupBy of k rows. k iterations = k scans, the canonical
    * distributed Lloyd.
    */
  def kmeans(ptsIn: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    // seeding + every assignment round scans the points — materialize once
    val pts = ptsIn.localCheckpoint(true)
    kmeansIterate(pts, kmeansSeeds(pts), iters)
  }

  /** The rank-deterministic seed rows (≤3: cl, cnt=1, sx, sy) for
    * [[kmeansIterate]]: a count action + distributedRank's
    * approxQuantile + band join, depending only on the input frame,
    * never on the iteration count.
    */
  def kmeansSeeds(pts: DataFrame): DataFrame = {
    val n = pts.count()
    // Scala / on non-negative longs floors exactly like SQL `div` — the
    // targets are the same (m·n) div 6 positions as the oracle's CTE
    val targets = Seq(1L, 3L, 5L).map(m => (m * n) / 6)
    // rank 0 can never match (row_number is 1-based) — dropping it here
    // reproduces the old consecutive cl numbering over the matched seeds
    val ts = targets.filter(_ >= 1L).distinct
    val ranked = graft.util.Ranks.distributedRank(
      pts, "x", "id", "rn", tieCols = Seq("y"))
    val seedCl =
      if (ts.isEmpty) lit(1)
      else ts.zipWithIndex.drop(1)
        .foldLeft(when(col("rn") === ts.head, 1)) {
          case (acc, (t, i)) => acc.when(col("rn") === t, i + 1)
        }.otherwise(lit(1))
    ranked
      .filter(col("rn").isin(ts: _*))
      .withColumn("cl", seedCl)
      .select(col("cl"), lit(1L).as("cnt"),
        col("x").as("sx"), col("y").as("sy"))
  }

  /** Lloyd iterations from materialized points + seed rows (see
    * [[kmeans]] for the exact-rational centroid arithmetic).
    */
  def kmeansIterate(pts: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, "need at least one iteration")

    def pivoted(c: DataFrame): DataFrame = c.agg(
      max(when(col("cl") === 1, col("cnt"))).as("c1"),
      max(when(col("cl") === 1, col("sx"))).as("sx1"),
      max(when(col("cl") === 1, col("sy"))).as("sy1"),
      max(when(col("cl") === 2, col("cnt"))).as("c2"),
      max(when(col("cl") === 2, col("sx"))).as("sx2"),
      max(when(col("cl") === 2, col("sy"))).as("sy2"),
      max(when(col("cl") === 3, col("cnt"))).as("c3"),
      max(when(col("cl") === 3, col("sx"))).as("sx3"),
      max(when(col("cl") === 3, col("sy"))).as("sy3"))

    // (c_j·x − s_jx)² + (c_j·y − s_jy)² in DECIMAL(38,0): the inner
    // c·y term fits a long (counts ≤ 10^9 · cents ≤ 10^9 would not, but
    // the squares would overflow long at SF 0.1 already) — square in
    // decimal, ANSI throws loudly if 38 digits are ever exceeded.
    def distD(j: Int): Column = {
      val dx = (col(s"c$j") * col("x") - col(s"sx$j")).cast("decimal(38,0)")
      val dy = (col(s"c$j") * col("y") - col(s"sy$j")).cast("decimal(38,0)")
      dx * dx + dy * dy
    }
    def cmp(i: Int, j: Int): Column = {
      val ci2 = (col(s"c$i") * col(s"c$i")).cast("decimal(38,0)")
      val cj2 = (col(s"c$j") * col(s"c$j")).cast("decimal(38,0)")
      when(col(s"c$j").isNull, lit(true))
        .when(col(s"c$i").isNull, lit(false))
        .otherwise(distD(i) * cj2 <= distD(j) * ci2)
    }
    val assignCol = when(cmp(1, 2) && cmp(1, 3), lit(1))
      .when(cmp(2, 3), lit(2)).otherwise(lit(3))

    var cent = pivoted(seeds)
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = pts.crossJoin(broadcast(cent))
        .withColumn("cl", assignCol)
      cent = pivoted(assigned.groupBy(col("cl"))
        .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy")))
    }
    assigned.groupBy(col("cl"))
      .agg(count(lit(1)).as("n_points"), sum(col("x")).as("sum_x"),
        sum(col("y")).as("sum_y"))
      .select(col("cl"), col("n_points"), col("sum_x"), col("sum_y"),
        round(col("sum_x").cast("double") / col("n_points"), 6)
          .as("mean_x"),
        round(col("sum_y").cast("double") / col("n_points"), 6)
          .as("mean_y"))
      .orderBy(col("cl"))
  }

  private def km1Kmeans(s: SparkSession, d: String): DataFrame =
    kmeans(Tables.part(s, d).select(
      col("p_partkey").as("id"), col("p_size").cast("long").as("x"),
      round(col("p_retailprice") * 100).cast("long").as("y")), iters = 3)

  /** The oracle unrolls the identical iterations as a CTE chain; the SQL
    * is generated so the per-iteration algebra is written once and
    * cannot drift between rounds.
    */
  private def km1Sql: String = {
    def dist(j: Int) =
      s"(CAST(c$j*x - sx$j AS HUGEINT) * CAST(c$j*x - sx$j AS HUGEINT)" +
        s" + CAST(c$j*y - sy$j AS HUGEINT) * CAST(c$j*y - sy$j AS HUGEINT))"
    def cmp(i: Int, j: Int) =
      s"(CASE WHEN c$j IS NULL THEN TRUE WHEN c$i IS NULL THEN FALSE " +
        s"ELSE ${dist(i)} * CAST(c$j*c$j AS HUGEINT) <= " +
        s"${dist(j)} * CAST(c$i*c$i AS HUGEINT) END)"
    val assign = s"CASE WHEN ${cmp(1, 2)} AND ${cmp(1, 3)} THEN 1 " +
      s"WHEN ${cmp(2, 3)} THEN 2 ELSE 3 END"
    def pivot(src: String) =
      s"""SELECT
         |  MAX(CASE WHEN cl=1 THEN cnt END) AS c1,
         |  MAX(CASE WHEN cl=1 THEN sx END) AS sx1,
         |  MAX(CASE WHEN cl=1 THEN sy END) AS sy1,
         |  MAX(CASE WHEN cl=2 THEN cnt END) AS c2,
         |  MAX(CASE WHEN cl=2 THEN sx END) AS sx2,
         |  MAX(CASE WHEN cl=2 THEN sy END) AS sy2,
         |  MAX(CASE WHEN cl=3 THEN cnt END) AS c3,
         |  MAX(CASE WHEN cl=3 THEN sx END) AS sx3,
         |  MAX(CASE WHEN cl=3 THEN sy END) AS sy3
         |FROM $src""".stripMargin
    def iter(i: Int) =
      s"""a$i AS (
         |  SELECT id, x, y, $assign AS cl FROM pts, p${i - 1}),
         |c$i AS (
         |  SELECT cl, COUNT(*) AS cnt, SUM(x) AS sx, SUM(y) AS sy
         |  FROM a$i GROUP BY cl),
         |p$i AS (${pivot(s"c$i")})""".stripMargin
    s"""WITH pts AS (
       |  SELECT p_partkey AS id, CAST(p_size AS BIGINT) AS x,
       |    CAST(ROUND(p_retailprice * 100) AS BIGINT) AS y
       |  FROM part),
       |ranked AS (
       |  SELECT id, x, y, ROW_NUMBER() OVER (ORDER BY x, y, id) AS rn,
       |    COUNT(*) OVER () AS n FROM pts),
       |seeds AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY rn) AS cl,
       |    CAST(1 AS BIGINT) AS cnt, x AS sx, y AS sy
       |  FROM ranked
       |  WHERE rn IN ((1*n)//6, (3*n)//6, (5*n)//6)),
       |p0 AS (${pivot("seeds")}),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT cl, CAST(n_points AS BIGINT) AS n_points,
       |  CAST(sum_x AS BIGINT) AS sum_x, CAST(sum_y AS BIGINT) AS sum_y,
       |  ROUND(CAST(sum_x AS DOUBLE) / n_points, 6) AS mean_x,
       |  ROUND(CAST(sum_y AS DOUBLE) / n_points, 6) AS mean_y
       |FROM (
       |  SELECT cl, COUNT(*) AS n_points, SUM(x) AS sum_x,
       |    SUM(y) AS sum_y
       |  FROM a3 GROUP BY cl)
       |ORDER BY cl""".stripMargin
  }

  // ---- PR1: PageRank on the part↔supplier graph --------------------------
  /** Link analysis over the bipartite sourcing graph: nodes are parts
    * (id·2) and suppliers (id·2+1), an undirected edge wherever a
    * supplier ever shipped a part (distinct lineitem pairs). Ranks are
    * SCALED INTEGERS (10^12 = total mass 1.0): every step — the 0.15
    * teleport, the r/deg contribution, the 0.85 damping — is integer
    * `div`, which floors identically in Spark and DuckDB on
    * non-negatives, so after any number of iterations both engines hold
    * the bit-identical rank vector. The flooring loses ≤1 unit of mass
    * per node per step (≤ 10^-9 relative) — deterministic, documented,
    * and invisible to the ranking.
    *
    * Scale: one iteration = ranks ⋈ edges on the source key + groupBy
    * destination — the canonical message-passing round. Edges are
    * hash-partitioned on src ONCE (the distinct already landed them so
    * AQE reuses the exchange); ranks arrive pre-partitioned from the
    * previous round's groupBy(dst) (same key, same partitioning — the
    * shuffle each round moves only the 16-byte rank rows, never the
    * edge list). Degrees ride the same layout. No driver state; 3
    * iterations = 3 bounded shuffles of |V| rows.
    */
  def pageRank(edges: DataFrame, iters: Int = 3,
      scale: Long = 1000000000000L, directed: Boolean = false): DataFrame = {
    // materialize the degree-annotated edge list ONCE — every iteration
    // joins it; without this the upstream scan + distinct re-runs per
    // iteration (4×): the "land the graph, iterate over the landing"
    // posture. e is consumed only while BUILDING deg/eDeg/nodes, never by
    // the iterations.
    val e0 = edges.select(col("src"), col("dst"))
    val e = (if (directed) e0 else e0.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"))))
      .localCheckpoint(true)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    // Degree-annotated edges: folding d onto each edge row up front
    // removes one join from EVERY iteration (the classic adjacency-with-
    // degree layout); r div d is unchanged arithmetic, so the oracle CTE
    // and the rank vector stay bit-identical.
    val eDeg = e.join(deg, "src").localCheckpoint(true)
    // node universe = every edge endpoint. Undirected doubling makes every
    // node both a source and a destination, so the degree keys ARE the
    // universe (no extra distinct); a genuinely directed graph has pure
    // sinks (no out-edges) and pure sources (no in-edges) that must still
    // hold rank, hence the explicit endpoint frame.
    val nodes =
      if (!directed) deg.select(col("src").as("node"))
      else e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct().localCheckpoint(true)
    val nn = nodes.agg(count(lit(1)).as("n"))
    val tele = expr(s"(15 * ${scale}L) div (100 * n)")
    var r = nodes.crossJoin(broadcast(nn))
      .select(col("node"), expr(s"${scale}L div n").as("r"))
    for (_ <- 1 to iters) {
      val contrib = eDeg.join(r, eDeg("src") === r("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("r div d")).as("contrib"))
      // dangling-mass redistribution: rank held by sink nodes (no
      // out-edges) is split evenly across ALL nodes inside the damped
      // term — the standard correction, in the same floor-div integer
      // arithmetic (each sink's mass, like each contribution, loses <1
      // unit per node to flooring). Undirected graphs have no sinks by
      // construction, so the join+agg is skipped, keeping the original
      // pr1 plan (and its oracle values) bit-identical.
      val dangled = if (directed) {
        val dang = r.join(deg, r("node") === deg("src"), "left_anti")
          .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
        nodes.join(contrib, nodes("node") === contrib("dst"), "left")
          .crossJoin(broadcast(nn)).crossJoin(broadcast(dang))
          .select(col("node"),
            (tele + expr(
              "(85 * (coalesce(contrib, 0L) + (dang div n))) div 100"))
              .as("r"))
      } else {
        contrib.crossJoin(broadcast(nn))
          .select(col("dst").as("node"),
            (tele + expr("(85 * contrib) div 100")).as("r"))
      }
      r = dangled
    }
    val ranks = r.select(col("node"), col("r").as("rank_scaled"))
    ranks.orderBy(col("rank_scaled").desc, col("node")).limit(20)
  }

  /** The distinct part↔supplier sourcing edge list, landed once per
    * lineitem.parquet version and shared by pr1 and pr2: graph
    * construction is source-derived state — production lands the graph
    * and every analysis iterates over the landing.
    * The per-call cost drops to the iterations themselves; the fact-scan
    * + 600k-row distinct runs once per source version.
    */
  private def sourcingEdges(s: SparkSession, d: String): DataFrame =
    Artifacts.frame(s,
      Artifacts.key("sourcing_edges", Tables.path(d, "lineitem")))(
      Tables.lineitem(s, d).select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct())

  private def pr1PageRank(s: SparkSession, d: String): DataFrame =
    pageRank(sourcingEdges(s, d), iters = 3)

  private val pr1Sql =
    """WITH e0 AS (
      |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem),
      |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
      |nn AS (SELECT COUNT(*) AS n FROM deg),
      |r0 AS (
      |  SELECT src AS node, 1000000000000 // n AS r FROM deg, nn),
      |r1 AS (
      |  SELECT e.dst AS node,
      |    (15 * 1000000000000) // (100 * (SELECT n FROM nn))
      |      + (85 * SUM(r0.r // deg.d)) // 100 AS r
      |  FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT e.dst AS node,
      |    (15 * 1000000000000) // (100 * (SELECT n FROM nn))
      |      + (85 * SUM(r1.r // deg.d)) // 100 AS r
      |  FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
      |  GROUP BY e.dst),
      |r3 AS (
      |  SELECT e.dst AS node,
      |    (15 * 1000000000000) // (100 * (SELECT n FROM nn))
      |      + (85 * SUM(r2.r // deg.d)) // 100 AS r
      |  FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
      |  GROUP BY e.dst)
      |SELECT node, CAST(r AS BIGINT) AS rank_scaled
      |FROM r3 ORDER BY r DESC, node LIMIT 20""".stripMargin

  // ---- PR2: PageRank, genuinely directed (dangling-mass correction) ------
  /** The directed variant on the raw part→supplier sourcing edges: every
    * supplier is a pure sink (no out-edges), so without redistribution
    * the damped term loses the entire supplier-side mass each iteration
    * (the round-6 verdict's latent trap). Sink mass is split evenly
    * across all nodes inside the damped term — the standard correction —
    * in the same floor-div scaled-integer arithmetic, so both engines
    * hold the bit-identical vector.
    *
    * Scale: the dangling aggregate is one left-anti join of the |V|-row
    * rank frame against the degree keys plus a scalar agg per iteration
    * — it rides the partitioning the rank join already has; nothing new
    * shuffles the edge list.
    */
  private def pr2PageRankDirected(s: SparkSession, d: String): DataFrame =
    pageRank(sourcingEdges(s, d), iters = 3, directed = true)

  private val pr2Sql = {
    val tele = "(15 * 1000000000000) // (100 * (SELECT n FROM nn))"
    def iter(i: Int) =
      s"""c$i AS (
         |  SELECT e.dst AS node, SUM(r${i - 1}.r // deg.d) AS contrib
         |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
         |  JOIN deg ON e.src = deg.src
         |  GROUP BY e.dst),
         |d$i AS (
         |  SELECT COALESCE(SUM(r), 0) AS dang FROM r${i - 1}
         |  WHERE node NOT IN (SELECT src FROM deg)),
         |r$i AS (
         |  SELECT nodes.node,
         |    $tele + (85 * (COALESCE(c$i.contrib, 0)
         |      + ((SELECT dang FROM d$i) // (SELECT n FROM nn)))) // 100 AS r
         |  FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, nn),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT node, CAST(r AS BIGINT) AS rank_scaled
       |FROM r3 ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  // ---- FM2: sequential patterns (event-type transitions) -----------------
  /** First-order sequence mining over per-user event streams: every
    * consecutive (prev → next) event-type transition under the total
    * order (ts, event_id), with global support counts and shares — the
    * Markov-transition / clickstream-pattern baseline.
    *
    * Scale: lag() needs ONE shuffle on user_id; per-user state is a
    * sort bounded by events-per-user (the e2 gaps-and-islands shape).
    * The transition vocabulary is |types|² ≤ 25 rows, so the final
    * aggregate and the share divisor (one broadcast row) are trivial.
    * Share is a double division of identical longs — same IEEE value in
    * both engines — rounded to 6.
    */
  private def fm2Sequences(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val seq = Tables.events(s, d)
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .filter(col("src").isNotNull)
      .select(col("src"), col("event_type").as("dst"))
    val counts = seq.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("transitions"))
    val tot = counts.agg(sum(col("transitions")).as("total"))
    counts.crossJoin(broadcast(tot))
      .select(col("src"), col("dst"), col("transitions"),
        round(col("transitions").cast("double") / col("total"), 6)
          .as("share"))
      .orderBy(col("src"), col("dst"))
  }

  private val fm2Sql =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS src
      |  FROM events),
      |counts AS (
      |  SELECT src, event_type AS dst, COUNT(*) AS transitions
      |  FROM seq WHERE src IS NOT NULL GROUP BY src, event_type),
      |tot AS (SELECT SUM(transitions) AS total FROM counts)
      |SELECT src, dst, CAST(transitions AS BIGINT) AS transitions,
      |  ROUND(CAST(transitions AS DOUBLE) / total, 6) AS share
      |FROM counts, tot
      |ORDER BY src, dst""".stripMargin

  // ---- OD1: outlier detection (exact-arithmetic 3σ) ----------------------
  /** Per-group 3σ outlier counts over order totals — the anomaly-
    * detection half of the mining curriculum — with the σ comparison in
    * EXACT integer arithmetic so no engine ever disagrees on a boundary
    * row:  |x − μ| > 3σ  ⟺  (n·x − S)² > 9·(n·Q − S²)  where S = Σx,
    * Q = Σx² over integer cents, all in DECIMAL(38,0)/HUGEINT. No
    * mean, variance, or square root is ever materialized as a double.
    *
    * Scale: one groupBy for (n, S, Q) per group (map-side partials),
    * the ≤|groups| stats rows broadcast back onto the scan, flags are
    * map-side, and the final per-group count re-uses the first
    * shuffle's key. Magnitude audit at 10^11 rows × 10^8-cent values:
    * n·x ≈ 10^19, (n·x−S)² ≈ 10^38 — at the DECIMAL(38) edge, so shard
    * groups (or rescale cents) past 10^10 rows per group; ANSI throws
    * loudly rather than silently wrapping.
    */
  /** The exact-arithmetic 3σ rule over a (grp, x) frame with integer-
    * valued x in a decimal column — exposed so specs can plant
    * outliers and degenerate (constant) groups.
    */
  def outliers3Sigma(o: DataFrame): DataFrame = {
    val stats = o.groupBy(col("grp")).agg(
      count(lit(1)).cast("decimal(20,0)").as("n"),
      sum(col("x")).as("s"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("q"))
    val dev = (col("n") * col("x") - col("s")).cast("decimal(38,0)")
    val varN2 = (col("n") * col("q") - col("s") * col("s"))
      .cast("decimal(38,0)")
    o.join(broadcast(stats), "grp")
      .withColumn("is_outlier", dev * dev > varN2 * lit(9))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("is_outlier"), 1)).as("n_outliers"))
      .orderBy(col("grp"))
  }

  private def od1Outliers(s: SparkSession, d: String): DataFrame =
    outliers3Sigma(Tables.orders(s, d).select(
      col("o_orderpriority").as("grp"),
      round(col("o_totalprice") * 100).cast("decimal(20,0)").as("x")))

  private val od1Sql =
    """WITH o AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(ROUND(o_totalprice * 100) AS HUGEINT) AS x
      |  FROM orders),
      |stats AS (
      |  SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s,
      |    SUM(x * x) AS q
      |  FROM o GROUP BY grp)
      |SELECT o.grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) FILTER (
      |    WHERE (n*x - s)*(n*x - s) > 9*(n*q - s*s)) AS BIGINT)
      |    AS n_outliers
      |FROM o JOIN stats ON o.grp = stats.grp
      |GROUP BY o.grp
      |ORDER BY o.grp""".stripMargin

  // ---- OD3: MAD-based robust outliers ---------------------------------------
  private[graft] val MadK = 5L

  /** OD3: median/MAD outliers — the ROBUST complement of od1's 3σ rule
    * (a single extreme value inflates σ and can mask itself; the median
    * absolute deviation is 50%-breakdown-immune, Hampel's rule). Flag
    * |x − median| > [[MadK]]·MAD, k=5 ≈ 3.4σ-equivalent under normality
    * (3·1.4826 rounded up to keep the arithmetic integral).
    *
    * Everything stays in EXACT INTEGER cents: percentile_disc picks
    * actual data values (engine-identical by the a10 discipline), the
    * deviations are integer differences, and the comparison is long vs
    * long — no doubles anywhere, so no boundary row can flip.
    *
    * Scale: two group-keyed aggregations over one fact (medians need a
    * per-group sort — at 100 TB swap percentile_disc for the
    * approx_percentile sketch under an a10-style bounded gate); the
    * ≤|groups| median/MAD rows broadcast back onto the scan, flags are
    * map-side.
    */
  def outliersMad(o: DataFrame): DataFrame = {
    val med = o.groupBy(col("grp"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
        .as("med"))
    val withDev = o.join(broadcast(med), "grp")
      .withColumn("_dev", abs(col("x") - col("med")))
    val mad = withDev.groupBy(col("grp"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _dev)")
        .as("mad"))
    withDev.join(broadcast(mad), "grp")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("med")).cast("long").as("med_cents"),
        max(col("mad")).cast("long").as("mad_cents"),
        count(when(col("_dev") > col("mad") * lit(MadK), 1))
          .as("n_outliers"))
      .orderBy(col("grp"))
  }

  // events.value is the corpus's only HEAVY-TAILED metric (exponential-
  // shaped; TPC-H money columns are uniform — max deviation √3σ, so both
  // od1's 3σ and any MAD rule are vacuously zero there): k=5 flags
  // ~80–95 genuine tail events per type at both SFs.
  private def od3MadOutliers(s: SparkSession, d: String): DataFrame =
    outliersMad(Tables.events(s, d).select(
      col("event_type").as("grp"),
      round(col("value") * 100).cast("long").as("x")))

  private val od3Sql =
    s"""WITH o AS (
       |  SELECT event_type AS grp,
       |    CAST(ROUND(value * 100) AS BIGINT) AS x
       |  FROM events),
       |med AS (
       |  SELECT grp,
       |    PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY x) AS med
       |  FROM o GROUP BY grp),
       |dev AS (
       |  SELECT o.grp, ABS(o.x - med.med) AS d, med.med
       |  FROM o JOIN med ON o.grp = med.grp),
       |mad AS (
       |  SELECT grp,
       |    PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY d) AS mad
       |  FROM dev GROUP BY grp)
       |SELECT dev.grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(MAX(dev.med) AS BIGINT) AS med_cents,
       |  CAST(MAX(mad.mad) AS BIGINT) AS mad_cents,
       |  CAST(COUNT(*) FILTER (WHERE dev.d > mad.mad * $MadK) AS BIGINT)
       |    AS n_outliers
       |FROM dev JOIN mad ON dev.grp = mad.grp
       |GROUP BY dev.grp
       |ORDER BY dev.grp""".stripMargin

  // ---- PR3: triangle counting (degree-oriented) --------------------------
  /** Exact triangle counting via the degree-orientation (compact-forward)
    * algorithm [Schank–Wagner / Suri–Vassilvitskii "Counting Triangles and
    * the Curse of the Last Reducer", WWW'11]: orient every undirected edge
    * from its lower endpoint to its higher endpoint under the total order
    * (degree, id), enumerate wedges only at each edge's LOW-order endpoint,
    * and close them with one more join. Orientation caps every node's
    * out-degree at O(√m) regardless of its real degree, so the wedge join
    * generates O(m^1.5) candidates worst-case instead of Σdeg² — the
    * high-degree hub that melts the naive wedge join ("the last reducer")
    * fans out over its LOW-degree neighbors' short lists instead.
    *
    * Each triangle {a≺b≺c} is counted exactly once, at its minimum vertex:
    * wedge (a→b, a→c) with b≺c, closed by the oriented edge b→c.
    *
    * Plan shape, scale-first: the oriented edge list is built once (one
    * shuffle for distinct edges + a broadcast-size degree table joined
    * twice) and checkpointed once per call; the wedge self-join and the
    * closure join shuffle only slim (long, long, long) rows — node ids and
    * one degree column, never payloads. All arithmetic is exact integer
    * counting: both engines agree bit-for-bit, no bounded gate needed.
    */
  /** The wedge frame is ~Σ outdeg² rows (41M at sf0.1) — the whole game
    * is making sure those rows never ride an exchange, and that the
    * stage GENERATING them keeps its parallelism:
    *  - both self-join sides derive from ONE explicit
    *    `repartition(n, src)` of the checkpointed edge list; the exchange is
    *    reused (one 1.2M-row shuffle total) and, critically, its
    *    REPARTITION_BY_NUM origin is exempt from AQE partition
    *    coalescing — with a plain ENSURE_REQUIREMENTS exchange AQE saw a
    *    ~30 MB map output and coalesced the stage toward one partition,
    *    serializing the 41M-row wedge fanout it cannot see (measured:
    *    9.4 s → 4.8 s came from exactly that);
    *  - the closure probe joins the wedges against a BROADCAST of the
    *    slim (b, c) edge set when the adaptive `limit(cap+1)` probe says
    *    it fits (the x3/d7 idiom; 4M edges ≈ 64 MB, routine executor
    *    broadcast) — wedges then flow map-side from the self-join
    *    straight into the hash probe and the partial count, and only
    *    per-node partial counts (≤|V| rows per partition) shuffle. Past
    *    the cap it degrades to the shuffle join — with the wedges
    *    bloom-pruned map-side first (see inline), so the exchange
    *    carries ≈ triangles, not Σoutdeg².
    */
  def triangleCount(edges: DataFrame,
      broadcastEdgeCap: Long = 4000000L): DataFrame = {
    // normalize: undirected, no self-loops, one row per edge with u < v
    val e = edges.select(
        least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") < col("v")).distinct()
    val deg = e.select(col("u").as("n")).unionByName(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    // orient by the total order (dg, id): src = lower endpoint
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = e
      .join(deg.select(col("n").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("dg").as("dv")), "v")
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"),
        when(fwd, col("dv")).otherwise(col("du")).as("ddg"))
    val o = oriented.localCheckpoint(true)
    val spark = o.sparkSession
    // Wedges are generated from per-src SORTED adjacency arrays instead
    // of the op⋈op self-join (r18): the join emitted Σoutdeg² rows
    // (83M at sf0.1) and filtered them to the 41M ordered wedges; the
    // posexplode + tail-slice chain (the minhashPairs bucket idiom,
    // whole-stage-codegen generators) emits each ordered pair EXACTLY
    // once — (ddg, dst) packs into one long so the sort_array order IS
    // the (bdg < cdg) || (bdg = cdg && b < c) wedge order over
    // primitive-long arrays, no struct boxing. One exchange of the slim
    // edge list (groupBy src — same bytes the explicit repartition
    // moved), the explosion itself map-side with full parallelism.
    // Packing bounds (ddg < 2^23, dst < 2^40) hold to ~10¹²-edge graphs;
    // the pack is only order-preserving inside them, so overflow fails
    // loudly here, never silently misorders.
    val PackShift = 40
    locally {
      val r = o.agg(max(col("dst")), max(col("ddg"))).head()
      require(r.isNullAt(0) ||
        (r.getLong(0) < (1L << 40) && r.getLong(1) < (1L << 23)),
        s"triangleCount pack overflow: max dst=${r.get(0)} ddg=${r.get(1)}")
    }
    // explicit REPARTITION_BY_NUM (not the groupBy's ENSURE_REQUIREMENTS
    // exchange): AQE coalesces the slim edge-list map output toward a
    // handful of partitions, blind to the 40× wedge explosion the
    // Generate above it performs — the pr3 fanout class. The explicit
    // origin is exempt and pins the wedge stage's parallelism.
    val adj = o
      .repartition(spark.sessionState.conf.numShufflePartitions, col("src"))
      .select(col("src"),
        (shiftleft(col("ddg"), PackShift) + col("dst")).as("pk"))
      .groupBy(col("src"))
      .agg(sort_array(collect_list(col("pk"))).as("arr"))
    val mask = (1L << PackShift) - 1
    val wedges = adj
      .select(col("src"), col("arr"), posexplode(col("arr")).as(Seq("i", "pb")))
      .select(col("src"), col("pb").bitwiseAND(lit(mask)).as("b"),
        explode(slice(col("arr"), col("i") + 2, size(col("arr")))).as("pc"))
      .select(col("src"), col("b"), col("pc").bitwiseAND(lit(mask)).as("c"))
    val closure = o.select(col("src").as("b"), col("dst").as("c"))
    // Bloom-prune the wedges map-side on the packed (b, c) closure key
    // in BOTH paths (r18 — previously only the past-broadcast-cap
    // fallback): at 1% fp the exact closure join probes ≈ triangles +
    // fp (2.3M rows at sf0.1) instead of every wedge (41M).
    val bcKey = xxhash64(col("b"), col("c"))
    val bloom = closure.withColumn("bc", bcKey).stat
      .bloomFilter("bc", math.max(1L, o.count()), 0.01)
    val name = "bloom_might_" +
      (System.identityHashCode(bloom) & Int.MaxValue).toHexString
    graft.functions.KernelRegistry.ensureTransient(spark, name)(
      exprs => graft.relational.BloomMightContain(exprs(0), bloom))
    val pruned = wedges.filter(call_function(name, bcKey))
    val closed =
      if (o.limit((broadcastEdgeCap + 1).toInt).count() <= broadcastEdgeCap)
        pruned.join(broadcast(closure), Seq("b", "c"))
      else
        // past the broadcast cap the survivors shuffle to meet the
        // closure edges — bloom already cut them to ≈ triangle-sized
        // (measured at the 10× sweep point: the un-pruned fallback
        // shuffled every wedge and ran 16.4× the sf0.1 time)
        pruned.join(closure, Seq("b", "c"))
    val counts = closed
      .select(explode(array(col("src"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    counts.orderBy(col("triangles").desc, col("node"))
  }

  /** The part co-purchase graph: parts appearing in the same order. Pair
    * fan-out per order is bounded by C(items-per-order, 2) ≤ C(7,2) = 21 in
    * this schema — the quadratic term is capped per BASKET, so the edge
    * build stays linear in the fact table at any corpus size.
    */
  private def pr3Triangles(s: SparkSession, d: String): DataFrame = {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = items.as("a").join(items.as("b"), Seq("ok"))
      .filter(col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
    triangleCount(edges)
      .limit(20)
  }

  private val pr3Sql =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (
      |  SELECT n, COUNT(*) AS dg
      |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
      |o AS (
      |  SELECT
      |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
      |         THEN e.u ELSE e.v END AS src,
      |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
      |         THEN e.v ELSE e.u END AS dst,
      |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
      |         THEN dv.dg ELSE du.dg END AS ddg
      |  FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
      |tri AS (
      |  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
      |  FROM o w1
      |  JOIN o w2 ON w1.src = w2.src
      |    AND (w1.ddg < w2.ddg OR (w1.ddg = w2.ddg AND w1.dst < w2.dst))
      |  JOIN o cl ON cl.src = w1.dst AND cl.dst = w2.dst)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
      |FROM (SELECT a AS node FROM tri UNION ALL
      |      SELECT b FROM tri UNION ALL SELECT c FROM tri)
      |GROUP BY node ORDER BY triangles DESC, node LIMIT 20""".stripMargin

  // ---- PR4: k-core decomposition ------------------------------------------
  /** Synchronous k-core peeling: each round keeps the nodes whose degree
    * WITHIN the surviving subgraph is ≥ k; the k-core is the fixpoint
    * (Batagelj–Zaveršnik's peeling, the distributed synchronous variant
    * of Montresor et al.). Rounds are a FIXED unroll (both engines run
    * exactly `rounds` peels), so the registered function is identical
    * cross-engine even in the impossible-in-practice case that the
    * fixpoint needs more rounds — MiningOpsSpec asserts round `rounds`
    * IS a fixpoint on the real corpus, so the unroll equals the true
    * k-core and a driver regen that deepens the peel chain fails loudly
    * instead of silently diverging.
    *
    * Scale: each round is two semi-joins of the (slim, 2-long) edge list
    * against the monotonically SHRINKING alive set plus a degree count
    * with map-side partials — the alive frame is eagerly checkpointed
    * per round (bounded: |nodes| longs) to cut the 10-round lineage. No
    * driver-side data beyond the checkpoint bookkeeping; at 100 TB each
    * round's cost is one pass over the still-alive edges, and rounds are
    * bounded by the peel depth (≲ tens on real graphs).
    */
  private[graft] def kcore(edges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    val sym = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    def peel(alive: Option[DataFrame]): DataFrame = {
      val survived = alive match {
        case None => sym
        case Some(al) =>
          sym.join(al.select(col("node").as("a")), "a")
            .join(al.select(col("node").as("b")), "b")
      }
      survived.groupBy(col("a")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("a").as("node"))
        .localCheckpoint(true)
    }
    var alive = peel(None)
    var r = 1
    while (r < rounds) { alive = peel(Some(alive)); r += 1 }
    sym.join(alive.select(col("node").as("a")), "a")
      .join(alive.select(col("node").as("b")), "b")
      .groupBy(col("a")).agg(count(lit(1)).as("deg_core"))
      .select(col("a").as("node"), col("deg_core"))
      .orderBy(col("node"))
  }

  /** The SUPPORT-THRESHOLDED co-purchase pair list: an edge only where
    * the two parts were bought together in ≥ 2 distinct orders. The raw
    * one-order pair graph is near-regular at every SF (min degree 38+,
    * measured) — k-core on it is vacuous below the degeneracy band; the
    * support threshold is the standard market-basket noise cut (fm1's
    * support gate, binarized) and leaves a graph whose 2-core is the
    * REPEAT-co-purchase backbone with real acyclic tails to strip.
    */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    items.as("a").join(items.as("b"), Seq("ok"))
      .filter(col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("u"), col("v"))
  }

  private[graft] val KcoreK = 2
  private[graft] val KcoreRounds = 10

  /** PR4 query: the 2-core of the support-2 co-purchase graph with each
    * member's in-core degree — peeling strips every tree-like tail, so
    * what survives is the CYCLIC repeat-co-purchase backbone (the
    * structure bot-ring/boilerplate detection and community seeding
    * start from; measured cores 200/1535/3 nodes at the three SFs,
    * fixpoint in ≤ 6 rounds, both nonempty and genuinely peeled).
    */
  private def pr4Kcore(s: SparkSession, d: String): DataFrame =
    kcore(coPurchaseEdges(s, d), KcoreK, KcoreRounds)
      .orderBy(col("node"))

  /** Each peel CTE is referenced twice (both endpoint joins) — without
    * MATERIALIZED DuckDB inlines the reference and the expression tree
    * doubles per round (2^rounds copies of the base scan; measured: the
    * sf0.01 oracle would not finish in 60 s; materialized it's ~1 s).
    */
  private val pr4Sql = {
    val peels = (2 to KcoreRounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT s.a AS node FROM sym s
         |  JOIN a${i - 1} x ON s.a = x.node
         |  JOIN a${i - 1} y ON s.b = y.node
         |  GROUP BY s.a HAVING COUNT(*) >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS (
       |  SELECT a.pk AS u, b.pk AS v
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2),
       |sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e0
       |        UNION ALL SELECT v, u FROM e0),
       |a1 AS MATERIALIZED (
       |  SELECT a AS node FROM sym GROUP BY a HAVING COUNT(*) >= $KcoreK),
       |$peels
       |SELECT s.a AS node, CAST(COUNT(*) AS BIGINT) AS deg_core
       |FROM sym s
       |JOIN a$KcoreRounds x ON s.a = x.node
       |JOIN a$KcoreRounds y ON s.b = y.node
       |GROUP BY s.a ORDER BY node""".stripMargin
  }

  // ---- PR5: label-propagation communities ----------------------------------
  private[graft] val LpaRounds = 4

  /** Synchronous label propagation (Raghavan et al. 2007, the
    * deterministic synchronous variant): every node starts labeled with
    * its own id; each round it adopts the most frequent label among its
    * NEIGHBORS, ties broken by smallest label — both choices make the
    * fold fully deterministic where the classic algorithm randomizes, so
    * membership (not just community counts) hash-checks cross-engine.
    * Rounds are a fixed unroll (the pr4 discipline): both engines run
    * exactly [[LpaRounds]] rounds.
    *
    * Scale: each round is one shuffle of the (slim, 2-long) symmetric
    * edge list keyed by the label-holder endpoint, a (node, label) count
    * with map-side partials, and a per-node argmax window PARTITIONED BY
    * node above that aggregate (the Window-above-Aggregate safe
    * topology; never partition-less). Labels are eagerly checkpointed
    * per round (bounded: 2 longs per node) to cut the unrolled lineage.
    * Label frames shrink nothing but stay node-sized; the edge list is
    * never widened — the same per-round cost profile as [[kcore]].
    */
  private[graft] def labelPropagation(edges: DataFrame,
      rounds: Int): DataFrame = {
    val sym = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    var labels = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      labels = Ranks.topK(sym
          .join(labels.select(col("node").as("b"), col("lab")), "b")
          .groupBy(col("a"), col("lab")).agg(count(lit(1)).as("c")),
          Seq(col("a")), Seq(col("c").desc, col("lab")), lit(1), "rn")
        .select(col("a").as("node"), col("lab"))
        .localCheckpoint(true)
    }
    labels.select(col("node"), col("lab").as("community"))
  }

  /** PR5 query: communities of the support-2 co-purchase backbone (the
    * pr4 graph — the raw one-order pair graph is near-regular and LPA
    * on it collapses to one community in a round; the thresholded
    * backbone has real structure).
    */
  private def pr5Communities(s: SparkSession, d: String): DataFrame =
    labelPropagation(coPurchaseEdges(s, d), LpaRounds)
      .orderBy(col("node"))

  /** Oracle: the same fixed unroll as chained CTEs — per round a
    * neighbor-label count and a row_number argmax (count DESC, label
    * ASC). Each label CTE is referenced once, but MATERIALIZED keeps
    * the expression tree linear in rounds (the pr4 lesson).
    */
  private val pr5Sql = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""c$i AS (
         |  SELECT s.a, l.lab, COUNT(*) AS c
         |  FROM sym s JOIN l${i - 1} l ON s.b = l.node GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT a AS node, lab FROM (
         |    SELECT a, lab,
         |      row_number() OVER (PARTITION BY a ORDER BY c DESC, lab) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS (
       |  SELECT a.pk AS u, b.pk AS v
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2),
       |sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e0
       |        UNION ALL SELECT v, u FROM e0),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT a AS node, a AS lab FROM sym),
       |$rounds
       |SELECT node, CAST(lab AS BIGINT) AS community
       |FROM l$LpaRounds ORDER BY node""".stripMargin
  }

  // ---- KM4: DBSCAN density clustering ---------------------------------------
  /** Core threshold quantile: cores are the densest 10% of points.
    * Quantile-RELATIVE (not an absolute minPts) so the core fraction is
    * stable across corpus sizes; Spark `percentile` and DuckDB
    * `quantile_cont` share the p·(n−1) interpolation (the dq5 parity),
    * and over integer degrees every interpolated value is an exact
    * binary half — identical doubles both sides of the ≥.
    */
  private[graft] val DbscanCoreQuantile = 0.9

  /** Deterministic DBSCAN (Ester et al. 1996, made engine-portable):
    *
    *  - ε² auto-scales to fixed occupancy: eps2 = 25·area/n (integer
    *    div) — the expected ε-disc holds ~π·25 points at any corpus
    *    size, so the same constants stay non-degenerate as data grows
    *    (measured: 4 clusters at sf0.01, 51 at sf0.1);
    *  - neighbours via a GRID-CELL join (cell side ⌈ε⌉, 3×3 neighbour
    *    cells — the af2 binning applied to 2D): candidates are
    *    n·9·(points per cell), never n²; the exact integer predicate
    *    (dx²+dy² ≤ eps2) decides membership on both engines;
    *  - cores = densest [[DbscanCoreQuantile]] fraction by ε-degree;
    *  - clusters = EXACT connected components of the core-core ε-graph
    *    ([[graft.ext.DedupOps.connectedComponents]] — size-probed driver
    *    union-find, star-contraction beyond the cap; label = min
    *    reachable core id, which a recursive-CTE closure reproduces);
    *  - borders = non-core points with a core ε-neighbour, labeled with
    *    the MIN neighbouring cluster (deterministic where the classic
    *    algorithm is scan-order-dependent); noise is ABSENT by contract.
    *
    * Scale: one cell-keyed exchange for the pair join (slim long
    * triples), one degree aggregate, components over the core SUBGRAPH
    * only (10% of nodes; the probe routes small graphs to the driver),
    * one border argmin. The pair volume is bounded by the fixed-occupancy
    * ε — the same 4n²/cells-with-cells-∝-n argument as d12's.
    */
  private[graft] def dbscan(ptsIn: DataFrame,
      eps2Override: Option[Long] = None,
      minDegOverride: Option[Long] = None): DataFrame = {
    val pts = ptsIn.localCheckpoint(true)
    val eps2 = eps2Override.getOrElse(pts.agg(expr(
      "25 * (max(x) - min(x)) * (max(y) - min(y)) div count(1)").as("e"))
      .head().getLong(0))
    val cs = math.max(1L, math.ceil(math.sqrt(eps2.toDouble)).toLong)
    val cells = pts.select(col("id"), col("x"), col("y"),
      expr(s"x div $cs").as("cx"), expr(s"y div $cs").as("cy"))
    val nbrCells = cells.select(col("id").as("ia"), col("x").as("xa"),
        col("y").as("ya"),
        explode(array((for (dx <- -1 to 1; dy <- -1 to 1) yield
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))): _*))
          .as("nc"))
      .select(col("ia"), col("xa"), col("ya"),
        col("nc.cx").as("cx"), col("nc.cy").as("cy"))
    val pairs = nbrCells
      .join(cells.select(col("id").as("ib"), col("x").as("xb"),
        col("y").as("yb"), col("cx"), col("cy")), Seq("cx", "cy"))
      .filter(col("ia") =!= col("ib") &&
        ((col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb"))) <= lit(eps2))
      .select(col("ia"), col("ib"))
      .localCheckpoint(true)
    val deg = pts.select(col("id"))
      .join(pairs.groupBy(col("ia").as("id")).agg(count(lit(1)).as("d")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("d"), lit(0L)).as("d"))
      .localCheckpoint(true)
    val thr = minDegOverride.map(_.toDouble).getOrElse(
      deg.agg(expr(s"percentile(d, $DbscanCoreQuantile)"))
        .head().getDouble(0))
    val core = deg.filter(col("d") >= lit(thr)).select(col("id"))
      .localCheckpoint(true)
    val coreEdges = pairs
      .join(core.select(col("id").as("ia")), "ia")
      .join(core.select(col("id").as("ib")), "ib")
      .select(col("ia").as("id_a"), col("ib").as("id_b"))
    val edgeLabels = graft.ext.DedupOps.connectedComponents(coreEdges)
    // isolated cores (no core ε-neighbour) form singleton clusters
    val coreLabels = edgeLabels.unionByName(
        core.join(edgeLabels.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("label")))
      .localCheckpoint(true)
    val borders = pairs
      .join(core.select(col("id").as("ia")), Seq("ia"), "left_anti")
      .join(coreLabels.select(col("id").as("ib"), col("label")), "ib")
      .groupBy(col("ia").as("id")).agg(min(col("label")).as("cluster"))
      .select(col("id"), col("cluster"), lit("border").as("role"))
    coreLabels
      .select(col("id"), col("label").as("cluster"), lit("core").as("role"))
      .unionByName(borders)
      .orderBy(col("id"))
  }

  /** KM4 query: DBSCAN over km1's integer part points (size, price
    * cents→dollars). The density
    * complement to km1's centroidal clustering: clusters of arbitrary
    * shape, plus an explicit noise set (absent rows).
    */
  private def km4Dbscan(s: SparkSession, d: String): DataFrame =
    dbscan(Tables.part(s, d).select(
        col("p_partkey").as("id"), col("p_size").cast("long").as("x"),
        round(col("p_retailprice")).cast("long").as("y")))

  private val km4Sql =
    """WITH RECURSIVE pts AS (
      |  SELECT p_partkey AS id, CAST(p_size AS BIGINT) AS x,
      |         CAST(ROUND(p_retailprice) AS BIGINT) AS y FROM part),
      |st AS (
      |  SELECT 25*(MAX(x)-MIN(x))*(MAX(y)-MIN(y))//COUNT(*) AS eps2,
      |         CAST(CEIL(SQRT(CAST(25*(MAX(x)-MIN(x))*(MAX(y)-MIN(y))
      |           //COUNT(*) AS DOUBLE))) AS BIGINT) AS cs
      |  FROM pts),
      |cells AS (
      |  SELECT id, x, y, x//(SELECT cs FROM st) AS cx,
      |         y//(SELECT cs FROM st) AS cy
      |  FROM pts),
      |offs(dx,dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
      |  (1,-1),(1,0),(1,1)),
      |pairs AS MATERIALIZED (
      |  SELECT a.id AS ia, b.id AS ib FROM cells a JOIN offs o ON TRUE
      |  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
      |  WHERE a.id <> b.id
      |    AND (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)
      |      <= (SELECT eps2 FROM st)),
      |deg AS (
      |  SELECT p.id, COALESCE(c.d, 0) AS d FROM pts p LEFT JOIN
      |    (SELECT ia AS id, COUNT(*) AS d FROM pairs GROUP BY ia) c
      |    USING (id)),
      |thr AS (SELECT quantile_cont(d, 0.9) AS t FROM deg),
      |core AS MATERIALIZED (
      |  SELECT id FROM deg WHERE d >= (SELECT t FROM thr)),
      |ce AS MATERIALIZED (
      |  SELECT ia, ib FROM pairs
      |  WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)),
      |reach AS (
      |  SELECT ia AS id, ib AS peer FROM ce
      |  UNION
      |  SELECT r.id, e.ib FROM reach r JOIN ce e ON e.ia = r.peer),
      |clab AS MATERIALIZED (
      |  SELECT c.id, LEAST(c.id, COALESCE(MIN(r.peer), c.id)) AS lab
      |  FROM core c LEFT JOIN reach r ON r.id = c.id GROUP BY c.id),
      |bord AS (
      |  SELECT p.ia AS id, MIN(l.lab) AS lab
      |  FROM pairs p JOIN clab l ON p.ib = l.id
      |  WHERE p.ia NOT IN (SELECT id FROM core) GROUP BY p.ia)
      |SELECT id, lab AS cluster, 'core' AS role FROM clab
      |UNION ALL SELECT id, lab, 'border' FROM bord
      |ORDER BY id""".stripMargin

  // ---- PR6: multi-source BFS shortest paths ---------------------------------
  private[graft] val BfsRounds = 4
  private[graft] val BfsSeeds = 8

  /** Synchronous multi-source BFS: hop distance from the nearest seed,
    * bounded at `rounds` hops (the pr4/pr5 fixed-unroll discipline — both
    * engines run exactly the same rounds). Each round is one shuffle of
    * the slim symmetric edge list keyed by the frontier endpoint, a
    * distinct on the discovered nodes, and an anti-join against the
    * settled set; BFS's first-reached-wins IS min-distance, so no
    * per-node argmin is ever needed. Frontier and settled frames are
    * eagerly checkpointed per round (2 longs per node, bounded) to cut
    * the unrolled lineage — the [[labelPropagation]] cost profile with a
    * SHRINKING frontier instead of a fixed label frame.
    */
  private[graft] def multiSourceBfs(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    // eager-checkpoint the symmetric edge list ONCE before the round
    // loop (round-14 advice): it re-joins every round, and for pr6 its
    // lineage carries the full co-purchase group-by/having derivation —
    // without the checkpoint each round re-pays that build. Slim frame
    // (2 longs per directed edge); blocks free on GC like every
    // localCheckpoint here.
    val sym = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint(true)
    var dist = seeds.select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    var frontier = dist.select(col("node"))
    for (r <- 1 to rounds) {
      val nxt = sym.join(frontier.select(col("node").as("a")), "a")
        .select(col("b").as("node")).distinct()
        .join(dist.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("dist"))
        .localCheckpoint(true)
      dist = dist.unionByName(nxt).localCheckpoint(true)
      frontier = nxt.select(col("node"))
    }
    dist
  }

  /** PR6 query: hop distance from [[BfsSeeds]] engine-portable seeds
    * (md5-ranked over the node set — DuckDB computes the identical rank,
    * the m3/c2 membership discipline) over the support-2 co-purchase
    * backbone, within [[BfsRounds]] hops. The classic reachability /
    * blast-radius primitive next to pagerank (pr1), triangles (pr3),
    * k-core (pr4) and communities (pr5). Unreached nodes are absent —
    * distance is a partial function, not a sentinel.
    */
  private def pr6BfsDistance(s: SparkSession, d: String): DataFrame = {
    val edges = coPurchaseEdges(s, d)
    val sym = edges.select(col("u").as("a"))
      .unionByName(edges.select(col("v").as("a")))
    val seeds = sym.select(col("a").as("node")).distinct()
      .orderBy(md5(concat_ws("|", col("node").cast("string"),
        lit("pr6"))), col("node"))
      .limit(BfsSeeds)
    multiSourceBfs(edges, seeds, BfsRounds).orderBy(col("node"))
  }

  /** Oracle: the same fixed unroll — per round, a frontier CTE (distinct
    * neighbors not yet settled) and a cumulative settled CTE. Frontier
    * CTEs are referenced twice at the next level (expansion join +
    * settled union), so MATERIALIZED keeps the tree linear in rounds
    * (the pr4 lesson).
    */
  private val pr6Sql = {
    val rounds = (1 to BfsRounds).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT s.b AS node
         |  FROM sym s JOIN f${i - 1} x ON s.a = x.node
         |  WHERE s.b NOT IN (SELECT node FROM c${i - 1})),
         |c$i AS MATERIALIZED (
         |  SELECT node, dist FROM c${i - 1}
         |  UNION ALL SELECT node, $i FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS (
       |  SELECT a.pk AS u, b.pk AS v
       |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2),
       |sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e0
       |        UNION ALL SELECT v, u FROM e0),
       |seeds AS MATERIALIZED (
       |  SELECT node FROM (SELECT DISTINCT a AS node FROM sym)
       |  ORDER BY md5(CAST(node AS VARCHAR) || '|pr6'), node
       |  LIMIT $BfsSeeds),
       |f0 AS MATERIALIZED (SELECT node FROM seeds),
       |c0 AS MATERIALIZED (SELECT node, 0 AS dist FROM seeds),
       |$rounds
       |SELECT node, CAST(dist AS BIGINT) AS dist
       |FROM c$BfsRounds ORDER BY node""".stripMargin
  }

  // ---- FM4: FP-Growth frequent itemsets ------------------------------------
  /** FM4: frequent itemsets of EVERY size via spark.ml's FPGrowth — the
    * parallel FP-Growth of Li et al. 2008 (PFP), the algorithm that
    * replaces fm1's pair-only enumeration when itemsets can be deeper
    * than 2. fm1 keeps the rule scoring (confidence/lift); fm4 is the
    * itemset lattice itself, emitted as (sorted '|'-joined itemset,
    * size, exact support count).
    *
    * minSupport 0.02 (MLlib's contract: freq ≥ ceil(0.02 · n_baskets),
    * the identical double→ceil both engines compute). On this uniform
    * TPC-H corpus the frequent lattice caps at size 2 (measured at both
    * SFs: 25 singletons + 215/298 pairs, zero triples at any support
    * that keeps pairs selective) — the ORACLE still enumerates to size 3
    * so a regen that deepens the lattice is caught, not missed.
    *
    * Scale: PFP shards the itemset lattice by group-id — each partition
    * mines an independent conditional FP-tree over group-dependent
    * projected transactions (one shuffle of the baskets, lattice never
    * materialized on the driver); freqItemsets comes back as a
    * DataFrame. Baskets are collect_set per order — bounded by items
    * per order (≤ 7 here), never a skew risk.
    */
  private def fm4Fpgrowth(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val pt = Tables.part(s, d)
    val baskets = li.join(broadcast(pt), li("l_partkey") === pt("p_partkey"))
      .select(col("l_orderkey").as("bid"), col("p_brand").as("item"))
      .groupBy(col("bid")).agg(collect_set(col("item")).as("items"))
    val model = new org.apache.spark.ml.fpm.FPGrowth()
      .setItemsCol("items").setMinSupport(0.02).fit(baskets)
    model.freqItemsets
      .select(array_join(array_sort(col("items")), "|").as("itemset"),
        size(col("items")).as("n_items"), col("freq"))
      .orderBy(col("n_items"), col("itemset"))
  }

  private val fm4Sql =
    """WITH b AS (
      |  SELECT DISTINCT l.l_orderkey AS bid, p.p_brand AS item
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (
      |  SELECT CAST(CEIL(CAST(0.02 AS DOUBLE) * COUNT(DISTINCT bid))
      |    AS BIGINT) AS minc FROM b),
      |s1 AS (
      |  SELECT item AS itemset, 1 AS n_items, COUNT(*) AS freq
      |  FROM b GROUP BY item HAVING COUNT(*) >= (SELECT minc FROM n)),
      |s2 AS (
      |  SELECT a.item || '|' || b2.item AS itemset, 2 AS n_items,
      |    COUNT(*) AS freq
      |  FROM b a JOIN b b2 USING (bid) WHERE a.item < b2.item
      |  GROUP BY a.item, b2.item
      |  HAVING COUNT(*) >= (SELECT minc FROM n)),
      |s3 AS (
      |  SELECT a.item || '|' || b2.item || '|' || c.item AS itemset,
      |    3 AS n_items, COUNT(*) AS freq
      |  FROM b a JOIN b b2 USING (bid) JOIN b c USING (bid)
      |  WHERE a.item < b2.item AND b2.item < c.item
      |  GROUP BY a.item, b2.item, c.item
      |  HAVING COUNT(*) >= (SELECT minc FROM n))
      |SELECT itemset, CAST(n_items AS INT) AS n_items,
      |  CAST(freq AS BIGINT) AS freq
      |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |      UNION ALL SELECT * FROM s3)
      |ORDER BY n_items, itemset""".stripMargin

  // ---- FM5: PrefixSpan sequential patterns ---------------------------------
  private[graft] val Fm5PrefixLen = 5
  private[graft] val Fm5MaxPattern = 3

  /** FM5: frequent sequential patterns via spark.ml's PrefixSpan (Pei et
    * al. 2001) — subsequences WITH GAPS, where fm2 is consecutive
    * transitions only. Sequences are each user's first
    * [[Fm5PrefixLen]] events under the (ts, event_id) total order — the
    * early-funnel window (full 67-event streams saturate: every ≤3-gram
    * is in every stream, a vacuous lattice); maxPatternLength 3 caps the
    * pattern space BY CONSTRUCTION, which is also what makes the
    * enumeration oracle complete. Support = count of users whose prefix
    * contains the pattern as a gapped subsequence, min support
    * ceil(0.02·users) — at sf0.01 the threshold genuinely prunes the
    * 3-pattern tail (min observed support 1.3%).
    *
    * Scale: PrefixSpan projects the sequence database prefix-by-prefix
    * (each round one shuffle of projected postfixes, pattern space
    * capped at 3); sequences themselves are bounded at
    * [[Fm5PrefixLen]] items by the window filter, so no projection can
    * exceed 5 items — memory per task is O(batch · 5). The row_number
    * window is per-user (high cardinality, never partition-less).
    */
  /** The prefix-window + PrefixSpan chain over an events-shaped frame
    * (user_id, ts, event_id, event_type) — exposed for planted-sequence
    * specs.
    */
  private[graft] def prefixPatterns(events: DataFrame,
      minSupport: Double = 0.02): DataFrame = {
    val seqs = Ranks.topK(events, Seq(col("user_id")),
        Seq(col("ts"), col("event_id")), lit(Fm5PrefixLen), "pos")
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("event_type"))))
        .as("st"))
      .select(transform(col("st"), x => array(x("event_type")))
        .as("sequence"))
    new org.apache.spark.ml.fpm.PrefixSpan()
      .setMinSupport(minSupport).setMaxPatternLength(Fm5MaxPattern)
      .setSequenceCol("sequence")
      .findFrequentSequentialPatterns(seqs)
      .select(array_join(flatten(col("sequence")), "|").as("pattern"),
        size(col("sequence")).as("len"), col("freq").as("n_users"))
  }

  private def fm5Prefixspan(s: SparkSession, d: String): DataFrame =
    prefixPatterns(Tables.events(s, d)).orderBy(col("len"), col("pattern"))

  /** Oracle: gapped-subsequence enumeration to length 3 (complete
    * because maxPatternLength caps the Spark side), distinct-user
    * counts, the identical ceil support cut.
    */
  private val fm5Sql =
    s"""WITH p0 AS (
       |  SELECT user_id, event_type AS t,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS pos
       |  FROM events),
       |p AS (SELECT * FROM p0 WHERE pos <= $Fm5PrefixLen),
       |n AS (
       |  SELECT CAST(CEIL(CAST(0.02 AS DOUBLE) * COUNT(DISTINCT user_id))
       |    AS BIGINT) AS minc FROM p),
       |l1 AS (
       |  SELECT t1 AS pattern, 1 AS len, COUNT(*) AS n_users
       |  FROM (SELECT DISTINCT user_id, t AS t1 FROM p)
       |  GROUP BY t1 HAVING COUNT(*) >= (SELECT minc FROM n)),
       |l2 AS (
       |  SELECT t1 || '|' || t2 AS pattern, 2 AS len, COUNT(*) AS n_users
       |  FROM (SELECT DISTINCT a.user_id, a.t AS t1, b.t AS t2
       |        FROM p a JOIN p b
       |          ON a.user_id = b.user_id AND a.pos < b.pos)
       |  GROUP BY t1, t2 HAVING COUNT(*) >= (SELECT minc FROM n)),
       |l3 AS (
       |  SELECT t1 || '|' || t2 || '|' || t3 AS pattern, 3 AS len,
       |    COUNT(*) AS n_users
       |  FROM (SELECT DISTINCT a.user_id, a.t AS t1, b.t AS t2, c.t AS t3
       |        FROM p a
       |        JOIN p b ON a.user_id = b.user_id AND a.pos < b.pos
       |        JOIN p c ON b.user_id = c.user_id AND b.pos < c.pos)
       |  GROUP BY t1, t2, t3 HAVING COUNT(*) >= (SELECT minc FROM n))
       |SELECT pattern, CAST(len AS INT) AS len,
       |  CAST(n_users AS BIGINT) AS n_users
       |FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2
       |      UNION ALL SELECT * FROM l3)
       |ORDER BY len, pattern""".stripMargin

  // ---- FM3: PMI collocations ----------------------------------------------
  /** FM3: pointwise-mutual-information collocations — statistically
    * bound token bigrams over the document corpus (Church & Hanks 1990),
    * the classic phrase-mining primitive an LLM-data pipeline uses for
    * tokenizer vocabulary candidates and boilerplate phrase detection.
    * Tokenization is t7's portable whitespace+lower convention; bigrams
    * come from `lead(tok)` over a window PARTITIONED BY doc_id (high
    * cardinality — never a global sort), so the token stream shuffles
    * once by doc. PMI = ln(p(ab) / (p(a)·p(b))) computed over exact
    * integer counts with ONE fixed double-op order both engines repeat;
    * ranks are taken over the score ROUNDED to 6 dp with the bigram
    * string as tie-break (t16's ln-portability discipline — a 1-ulp libm
    * difference can only flip an order the rounded value already
    * declares a tie).
    *
    * Scale: bigram counts shuffle (w1, w2) pairs with map-side partials;
    * the two unigram joins are vocab-sized (AQE broadcasts them); the
    * min-count filter prunes the long tail BEFORE the joins; top-50 is a
    * TakeOrderedAndProject. Nothing driver-side.
    */
  private def fm3Pmi(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
    val uni = toks.filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
    val nTok = uni.agg(sum(col("n_tok")).cast("long").as("n_total"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = toks
      .withColumn("w2", lead(col("tok"), 1).over(w))
      .filter(col("w2").isNotNull &&
        length(col("tok")) > 0 && length(col("w2")) > 0)
      .select(col("tok").as("w1"), col("w2"))
    val big = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 5)
    val nBig = pairs.agg(count(lit(1)).as("n_pairs_total"))
    big
      .join(uni.select(col("tok").as("w1"), col("n_tok").as("n_w1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("n_tok").as("n_w2")), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(
          col("n_pair").cast("double") / col("n_pairs_total")
            / (col("n_w1").cast("double") / col("n_total"))
            / (col("n_w2").cast("double") / col("n_total"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(50)
  }

  private val fm3Sql =
    """WITH toks AS (
      |  SELECT doc_id, tok, pos FROM (
      |    SELECT doc_id,
      |      unnest(str_split(lower(text), ' ')) AS tok,
      |      unnest(range(1, len(str_split(lower(text), ' ')) + 1)) AS pos
      |    FROM documents)),
      |uni AS (
      |  SELECT tok, COUNT(*) AS n_tok FROM toks WHERE len(tok) > 0
      |  GROUP BY tok),
      |n AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_total FROM uni),
      |prs AS (
      |  SELECT tok AS w1,
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |  FROM toks),
      |pairs AS (
      |  SELECT w1, w2 FROM prs
      |  WHERE w2 IS NOT NULL AND len(w1) > 0 AND len(w2) > 0),
      |big AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM pairs
      |  GROUP BY w1, w2 HAVING COUNT(*) >= 5),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_total FROM pairs)
      |SELECT big.w1, big.w2, n_pair,
      |  round(ln(
      |    CAST(n_pair AS DOUBLE) / n_pairs_total
      |      / (CAST(u1.n_tok AS DOUBLE) / n_total)
      |      / (CAST(u2.n_tok AS DOUBLE) / n_total)), 6) AS pmi
      |FROM big
      |JOIN uni u1 ON big.w1 = u1.tok
      |JOIN uni u2 ON big.w2 = u2.tok
      |CROSS JOIN n CROSS JOIN nb
      |ORDER BY pmi DESC, big.w1, big.w2 LIMIT 50""".stripMargin

  val qs: Seq[(String, Q)] = Seq(
    "fm1_assoc_rules" -> Q(fm1Rules, Some(fm1Sql)),
    "fm2_seq_patterns" -> Q(fm2Sequences, Some(fm2Sql)),
    "fm3_pmi_collocations" -> Q(fm3Pmi, Some(fm3Sql)),
    "km1_kmeans"      -> Q(km1Kmeans, Some(km1Sql)),
    "pr3_triangles"   -> Q(pr3Triangles, Some(pr3Sql)),
    "pr4_kcore"       -> Q(pr4Kcore, Some(pr4Sql)),
    "pr5_communities" -> Q(pr5Communities, Some(pr5Sql)),
    "pr6_bfs_distance" -> Q(pr6BfsDistance, Some(pr6Sql)),
    "km4_dbscan"      -> Q(km4Dbscan, Some(km4Sql)),
    "fm4_fpgrowth"    -> Q(fm4Fpgrowth, Some(fm4Sql)),
    "fm5_prefixspan"  -> Q(fm5Prefixspan, Some(fm5Sql)),
    "pr1_pagerank"    -> Q(pr1PageRank, Some(pr1Sql)),
    "pr2_pagerank_directed" -> Q(pr2PageRankDirected, Some(pr2Sql)),
    "od1_outliers"    -> Q(od1Outliers, Some(od1Sql)),
    "od3_mad_outliers" -> Q(od3MadOutliers, Some(od3Sql)),
  )
}
