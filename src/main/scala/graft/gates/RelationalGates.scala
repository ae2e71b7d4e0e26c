package graft.gates

import graft.llm.TextAnalysis
import graft.ops.{BloomJoin, Deltas, RangeJoin, Sessionize, Sketches, SpatialJoin}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GateInputs._

/** The relational gates (`q*`): scans, joins, aggregations, windows,
  * graph algorithms and shared-SQL-text queries over the TPC-H-ish tables. */
object RelationalGates {

  /** The q46/q50/q52 graph: 5 deterministic affine maps over part keys —
    * sparse (5 out-edges/vertex) at EVERY scale factor, where a data-derived
    * co-occurrence graph goes complete at sf0.01. */
  private def affinePartGraph(s: SparkSession, d: String): DataFrame = {
    val part = t(s, d, "part").select(col("p_partkey"))
    val withN = part.crossJoin(broadcast(part.agg(count(lit(1)).as("__n"))))
    Seq((31, 7), (17, 3), (13, 11), (7, 1), (41, 19)).map { case (a, b) =>
      withN.select(col("p_partkey").as("src"),
        (pmod(col("p_partkey") * a + b, col("__n")) + 1).as("dst"))
    }.reduce(_.unionByName(_))
  }

  /** q95: same affine-map graph as q50, canonicalized undirected; wedges
    * per center vertex, RA in integer 1e-12 units (// is floor division —
    * equal to Spark's long `/` truncation for these positive operands). */
  private val linkPredictionOracleSql: String =
    """WITH n0 AS (SELECT COUNT(*) AS n FROM part),
      |raw AS (
      |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n0.n) + 1 AS dst FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n0.n) + 1 FROM part, n0
      |), e AS (
      |  SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
      |  FROM raw WHERE src <> dst
      |), adj AS (
      |  SELECT src AS w, dst AS v FROM e UNION ALL SELECT dst, src FROM e
      |), deg AS (SELECT w, COUNT(*) AS deg FROM adj GROUP BY 1),
      |wed AS (
      |  SELECT a.v AS u, b.v AS v, a.w AS w
      |  FROM adj a JOIN adj b ON a.w = b.w AND a.v < b.v
      |), sc AS (
      |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
      |    CAST(SUM(1000000000000 // d.deg) AS BIGINT) AS ra_e12
      |  FROM wed JOIN deg d ON d.w = wed.w GROUP BY 1, 2
      |)
      |SELECT sc.u, sc.v, sc.cn, sc.ra_e12 FROM sc
      |LEFT JOIN e ON e.src = sc.u AND e.dst = sc.v
      |WHERE e.src IS NULL
      |ORDER BY sc.cn DESC, sc.ra_e12 DESC, sc.u, sc.v LIMIT 50""".stripMargin

  /** q97: 3 unrolled unnormalized HITS rounds over the affine directed
    * graph — all-integer mutual reinforcement, no float contract. */
  private val hitsOracleSql: String =
    """WITH n0 AS (SELECT COUNT(*) AS n FROM part),
      |raw AS (
      |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n0.n) + 1 AS dst FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n0.n) + 1 FROM part, n0
      |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n0.n) + 1 FROM part, n0
      |), e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
      |h0 AS (SELECT DISTINCT v, 1::BIGINT AS h FROM
      |  (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
      |a1 AS (SELECT e.dst AS v, SUM(h0.h) AS a FROM e JOIN h0 ON h0.v = e.src GROUP BY 1),
      |h1 AS (SELECT e.src AS v, SUM(a1.a) AS h FROM e JOIN a1 ON a1.v = e.dst GROUP BY 1),
      |a2 AS (SELECT e.dst AS v, SUM(h1.h) AS a FROM e JOIN h1 ON h1.v = e.src GROUP BY 1),
      |h2 AS (SELECT e.src AS v, SUM(a2.a) AS h FROM e JOIN a2 ON a2.v = e.dst GROUP BY 1),
      |a3 AS (SELECT e.dst AS v, SUM(h2.h) AS a FROM e JOIN h2 ON h2.v = e.src GROUP BY 1),
      |h3 AS (SELECT e.src AS v, SUM(a3.a) AS h FROM e JOIN a3 ON a3.v = e.dst GROUP BY 1)
      |SELECT COALESCE(a3.v, h3.v) AS v,
      |  CAST(COALESCE(a3.a, 0) AS BIGINT) AS auth,
      |  CAST(COALESCE(h3.h, 0) AS BIGINT) AS hub
      |FROM a3 FULL OUTER JOIN h3 ON a3.v = h3.v
      |ORDER BY auth DESC, v LIMIT 20""".stripMargin

  /** q50's oracle: 5 unrolled PageRank rounds over the q46 affine graph.
    * Each round's inbound sum is an ORDERED `list_reduce` (ascending src)
    * so every double matches the Spark ordered fold bit for bit —
    * list_reduce has no init, but 0.0 + c == c exactly for the positive
    * contributions, so the missing seed cannot diverge from Spark's
    * aggregate(…, 0.0, +). Generated per round to keep the 5 copies
    * literally identical. */
  private val pageRankOracleSql: String = {
    val rounds = (1 to 5).map { k =>
      s"""r$k AS (
         |  SELECT vv.v, (1.0::DOUBLE - 0.85::DOUBLE) / nn.n + 0.85::DOUBLE * COALESCE(s.s, 0.0::DOUBLE) AS r
         |  FROM v vv CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS v, list_reduce(list(rp.r / od.od ORDER BY e.src), (x,y) -> x + y) AS s
         |    FROM e JOIN r${k - 1} rp ON rp.v = e.src JOIN od ON od.src = e.src
         |    GROUP BY e.dst) s USING (v)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH n0 AS (SELECT COUNT(*) AS n FROM part),
       |raw AS (
       |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n0.n) + 1 AS dst FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n0.n) + 1 FROM part, n0
       |), e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
       |v AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT COUNT(*) AS n FROM v),
       |od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),
       |r0 AS (SELECT v.v, 1.0::DOUBLE / nn.n AS r FROM v, nn),
       |$rounds
       |SELECT v, r FROM r5 ORDER BY r DESC, v LIMIT 20""".stripMargin
  }

  /** q78: one SQL text, two engines — correlated EXISTS / NOT EXISTS /
    * scalar subqueries; Spark runs it via spark.sql, DuckDB as the
    * oracle verbatim. */
  private val sqlSubqueriesSql: String =
    """SELECT c.c_custkey,
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
      |  (SELECT MAX(o.o_totalprice) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS max_price
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      |      AND o.o_totalprice < 10000)
      |ORDER BY c.c_custkey""".stripMargin

  /** q81: one SQL text, two engines — TPC-H Q3's 3-way join + grouped
    * revenue + top-k. ROUND(,2) on the double sum is the q03-proven
    * cross-engine contract; the (revenue DESC, l_orderkey) sort makes
    * the LIMIT cutoff deterministic under ties. */
  private val sql3WayTopkSql: String =
    """SELECT l.l_orderkey,
      |  ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
      |  CAST(o.o_orderdate AS DATE) AS o_date
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l.l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l.l_orderkey, o.o_orderdate
      |ORDER BY revenue DESC, l.l_orderkey
      |LIMIT 50""".stripMargin

  /** q90: one SQL text, two engines — recursive CTE (binary-tree walk
    * with per-depth aggregation; terminates when no supplier joins the
    * frontier). */
  private val sqlRecursiveCteSql: String =
    """WITH RECURSIVE d(node, depth) AS (
      |  SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
      |  UNION ALL
      |  SELECT s.s_suppkey, p.depth + 1
      |  FROM supplier s JOIN d p
      |    ON CAST(FLOOR(s.s_suppkey / 2.0) AS BIGINT) = p.node
      |  WHERE s.s_suppkey > 1
      |)
      |SELECT depth, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(node) AS BIGINT) AS sum_keys
      |FROM d GROUP BY depth ORDER BY depth""".stripMargin

  /** q86: one SQL text, two engines — the set-operation surface
    * (INTERSECT / EXCEPT set semantics + INTERSECT ALL bag semantics),
    * tagged branches so one hash pins all three operators. */
  private val sqlSetOpsSql: String =
    """SELECT 'both_status' AS tag, k FROM (
      |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t1
      |UNION ALL
      |SELECT 'never_ordered' AS tag, k FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT o_custkey FROM orders) t2
      |UNION ALL
      |SELECT 'bag_overlap' AS tag, k FROM (
      |  SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
      |  INTERSECT ALL
      |  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A') t3
      |ORDER BY tag, k""".stripMargin

  /** q87: one SQL text, two engines — a correlated LATERAL subquery with
    * ORDER BY + LIMIT (per-customer top-3 orders by price; ties broken by
    * orderkey so the pick set is deterministic). */
  private val sqlLateralSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |  LATERAL (
      |    SELECT o_orderkey, o_totalprice FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey
      |    LIMIT 3) t
      |WHERE c.c_mktsegment = 'MACHINERY'
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  /** q82: one SQL text, two engines — TPC-H Q21's 4-way join with
    * correlated EXISTS + NOT EXISTS ("an order this supplier flagged 'R'
    * where other suppliers participated but none of THEM flagged 'R'"). */
  private val sql4WayExistsSql: String =
    """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |  AND n.n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3')
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name""".stripMargin

  /** q92: TPC-H Q2's shape as ONE shared SQL text — a correlated SCALAR
    * aggregate subquery (min price per part over its own 4-way join)
    * gating a 5-way outer join; lineitem stands in for partsupp (no such
    * table in the test data) with l_extendedprice as the offer price.
    * q78 proved decorrelation of EXISTS/IN; this proves the scalar-agg
    * rewrite (Catalyst plans the inner MIN as an aggregated left join on
    * p_partkey). DISTINCT collapses tie-duplicate offers so the gate is
    * a set, not a multiset, of minimal offers. */
  private val sqlScalarMinSql: String =
    """SELECT DISTINCT p.p_partkey, p.p_brand, s.s_name, n.n_name,
      |  l.l_extendedprice AS min_price
      |FROM part p
      |JOIN lineitem l ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE p.p_size < 15 AND r.r_name = 'EUROPE'
      |  AND l.l_extendedprice = (
      |    SELECT MIN(l2.l_extendedprice)
      |    FROM lineitem l2
      |    JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
      |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |    WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY p.p_partkey, s.s_name""".stripMargin

  /** q100: TPC-H Q17 shape — correlated scalar AVG over the fact, spelled
    * as its exact integer cross-multiplication (no float in the hash). */
  private val sqlScalarAvgSql: String =
    """SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_small,
      |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_size < 10
      |  AND CAST(l.l_quantity AS BIGINT) * 5 *
      |      (SELECT COUNT(*) FROM lineitem l2
      |       WHERE l2.l_partkey = p.p_partkey)
      |    < (SELECT SUM(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
      |       WHERE l2.l_partkey = p.p_partkey)
      |GROUP BY p.p_brand
      |ORDER BY p.p_brand""".stripMargin

  /** q101: TPC-H Q20 shape — nested IN chain with a correlated scalar
    * MAX threshold at the innermost level; integer-exact throughout. */
  private val sqlNestedInSql: String =
    """SELECT s.s_suppkey, s.s_name, n.n_name
      |FROM supplier s
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE n.n_regionkey = 0
      |  AND s.s_suppkey IN (
      |    SELECT l.l_suppkey FROM lineitem l
      |    WHERE l.l_partkey IN (
      |        SELECT p.p_partkey FROM part p WHERE p.p_name LIKE 'small%')
      |      AND CAST(l.l_quantity AS BIGINT) * 2 >
      |          (SELECT MAX(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
      |           WHERE l2.l_partkey = l.l_partkey))
      |ORDER BY s.s_suppkey""".stripMargin

  /** q103: TPC-H Q7 shape — the 6-table "volume shipping" join breadth
    * (lineitem ⋈ orders ⋈ supplier ⋈ customer ⋈ nation×2) with the
    * symmetric nation-pair OR and a ship-date range; one shared text. */
  private val sqlVolumeShippingSql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(COUNT(*) AS BIGINT) AS n_ship,
      |  ROUND(SUM(volume), 2) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
      |    l.l_extendedprice * (1 - l.l_discount) AS volume
      |  FROM supplier s
      |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                         AND TIMESTAMP '1997-12-31 00:00:00'
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** q104: TPC-H Q8 shape — the 8-table "market share" join breadth
    * (part ⋈ lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region + the
    * supplier→nation side), region + type + date-range filters, and the
    * conditional-share ratio per year; one shared text. */
  private val sqlMarketShareSql: String =
    """SELECT o_year,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
      |        / SUM(volume), 4) AS mkt_share
      |FROM (
      |  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
      |    l.l_extendedprice * (1 - l.l_discount) AS volume,
      |    n2.n_name AS nation
      |  FROM part p
      |  JOIN lineitem l ON p.p_partkey = l.l_partkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      |  JOIN region r ON n1.n_regionkey = r.r_regionkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      |  WHERE r.r_name = 'ASIA'
      |    AND p.p_type = 'PROMO'
      |    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                          AND TIMESTAMP '1997-12-31 00:00:00'
      |) all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** q93: ANSI ordered-set aggregates (WITHIN GROUP), one shared text. */
  private val sqlWithinGroupSql: String =
    """SELECT l_returnflag,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS med_disc,
      |  ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 2) AS q1_cont,
      |  ROUND(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_extendedprice), 2) AS q3_cont,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q83: one SQL text, two engines — GROUPING SETS at three
    * granularities with GROUPING() markers; COALESCE names subtotal rows
    * ('ALL') so the hash gate sees no NULL grouping keys. */
  private val sqlGroupingSetsSql: String =
    """SELECT COALESCE(n.n_name, 'ALL') AS nation,
      |  COALESCE(o.o_orderstatus, 'ALL') AS status,
      |  CAST(GROUPING(n.n_name) AS INT) * 2 +
      |    CAST(GROUPING(o.o_orderstatus) AS INT) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  ROUND(SUM(o.o_totalprice), 2) AS total
      |FROM orders o
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |GROUP BY GROUPING SETS ((n.n_name, o.o_orderstatus), (n.n_name), ())
      |ORDER BY gid, nation, status""".stripMargin

  /** q62/q66 shared CTE chain: the affine graph's canonical undirected
    * edges + 3 synchronous LPA rounds — neighbour label counts, then the
    * (max count, min label) pick via a window rank over the grouped
    * counts. Labels are exact integers, so every round is portable. */
  private val lpaCtesSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""c$k AS (
         |  SELECT b.v, p.label, COUNT(*) AS cnt
         |  FROM bi b JOIN l${k - 1} p ON p.v = b.nbr GROUP BY 1, 2
         |), l$k AS (
         |  SELECT v, label FROM (
         |    SELECT v, label, ROW_NUMBER() OVER (
         |      PARTITION BY v ORDER BY cnt DESC, label ASC) AS rn FROM c$k)
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""n0 AS (SELECT COUNT(*) AS n FROM part),
       |raw AS (
       |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n0.n) + 1 AS dst FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n0.n) + 1 FROM part, n0
       |), canon AS (
       |  SELECT DISTINCT LEAST(src, dst) AS s, GREATEST(src, dst) AS g
       |  FROM raw WHERE src <> dst
       |), bi AS (
       |  SELECT s AS v, g AS nbr FROM canon UNION ALL SELECT g, s FROM canon
       |), l0 AS (SELECT DISTINCT v AS v, v AS label FROM bi),
       |$rounds""".stripMargin
  }

  private val labelPropOracleSql: String =
    s"""WITH $lpaCtesSql
       |SELECT CAST(v AS BIGINT) AS v, CAST(label AS BIGINT) AS label
       |FROM l3 ORDER BY v""".stripMargin

  /** q66: modularity of the l3 labelling as the exact rational
    * q_num/q_den = Σ_c(4·m·l_c − D_c²) / 4m² — integers only. */
  private val modularityOracleSql: String =
    s"""WITH $lpaCtesSql,
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM canon),
       |degs AS (SELECT v, COUNT(*) AS d FROM bi GROUP BY 1),
       |dc AS (SELECT l.label, SUM(d.d) AS dc FROM l3 l JOIN degs d USING (v) GROUP BY 1),
       |lc AS (
       |  SELECT la.label, CAST(COUNT(*) AS BIGINT) AS lc
       |  FROM canon c JOIN l3 la ON la.v = c.s JOIN l3 lb ON lb.v = c.g
       |  WHERE la.label = lb.label GROUP BY 1
       |), terms AS (
       |  SELECT d.label, 4 * m.m * COALESCE(l.lc, 0) - d.dc * d.dc AS t
       |  FROM dc d LEFT JOIN lc l USING (label) CROSS JOIN m
       |)
       |SELECT m.m AS m_edges, CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  CAST(SUM(t.t) AS BIGINT) AS q_num, CAST(4 * m.m * m.m AS BIGINT) AS q_den
       |FROM terms t CROSS JOIN m GROUP BY m.m""".stripMargin

  /** q63: 6 unrolled round-synchronous Bellman-Ford relaxations — each
    * round is (previous distances UNION ALL edge-relaxed candidates) →
    * MIN per vertex. Integer weights, so every distance is exact. */
  private val ssspOracleSql: String = {
    val rounds = (1 to 6).map { k =>
      s"""d$k AS (
         |  SELECT v, MIN(dist) AS dist FROM (
         |    SELECT v, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, p.dist + e.w AS dist
         |    FROM e JOIN d${k - 1} p ON p.v = e.src
         |  ) GROUP BY v
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH n0 AS (SELECT COUNT(*) AS n FROM part),
       |raw AS (
       |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n0.n) + 1 AS dst FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n0.n) + 1 FROM part, n0
       |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n0.n) + 1 FROM part, n0
       |), e AS (
       |  SELECT DISTINCT src, dst, (src * 7 + dst * 3) % 20 + 1 AS w
       |  FROM raw WHERE src <> dst
       |), d0 AS (SELECT CAST(v AS BIGINT) AS v, CAST(0 AS BIGINT) AS dist
       |          FROM (VALUES (1), (2), (3)) t(v)),
       |$rounds
       |SELECT CAST(v AS BIGINT) AS v, CAST(dist AS BIGINT) AS dist
       |FROM d6 ORDER BY v""".stripMargin
  }

  /** The q41 oracle's Morton interleave, unrolled as SQL bit arithmetic. */
  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i + 1}) + ((($y >> $i) & 1) << ${2 * i})")
      .mkString(" + ")

  val gates: Seq[Gate] = List(
    // --- scans / filters / projections (S1-S7, F1-F9) ------------------
    Gate("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        | ROUND(SUM(l_extendedprice),2) AS sum_base_price,
        | ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Gate("q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, ROUND(l_extendedprice,2) AS price
        |FROM lineitem WHERE l_quantity >= 48 AND l_discount > 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") >= 48 && col("l_discount") > lit(0.07))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Gate("q03_isin_filter",
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
    Gate("q04_date_filter",
      """SELECT YEAR(o_orderdate)*100 + MONTH(o_orderdate) AS ym, COUNT(*) AS n,
        | ROUND(SUM(o_totalprice),2) AS total
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("ym"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("ym"))
    },
    // --- joins (J9/J11/J12/J13, semi/anti) -----------------------------
    Gate("q05_dim_join",
      """SELECT r_name, n_name, COUNT(*) AS n_customers, ROUND(SUM(c_acctbal),2) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("total_acctbal"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Gate("q06_left_join_fill",
      """SELECT n_name, COALESCE(cnt, 0) AS n_customers
        |FROM nation LEFT JOIN (SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey) c
        |ON n_nationkey = c_nationkey ORDER BY n_name""".stripMargin) { (s, d) =>
      val custCounts = t(s, d, "customer").groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
      t(s, d, "nation")
        .join(custCounts, col("n_nationkey") === col("c_nationkey"), "left")
        .select(col("n_name"), coalesce(col("cnt"), lit(0L)).as("n_customers"))
        .orderBy(col("n_name"))
    },
    Gate("q07_anti_join",
      """SELECT c_nationkey, COUNT(*) AS n_no_order FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_no_order"))
        .orderBy(col("c_nationkey"))
    },
    Gate("q08_semi_join",
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    },
    Gate("q27_join_agg_topk",
      """SELECT o_orderkey, revenue FROM (
        | SELECT o_orderkey, o_orderdate, ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY o_orderkey, o_orderdate) t
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("revenue"))
    },
    // --- aggregations (A1-A8) ------------------------------------------
    Gate("q14_count_distinct",
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      t(s, d, "orders").groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"), count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    },
    Gate("q15_max_scan",
      """SELECT CAST(MAX(o_orderdate) AS DATE) AS max_orderdate,
        | CAST(MIN(o_orderdate) AS DATE) AS min_orderdate, COUNT(*) AS n FROM orders""".stripMargin) { (s, d) =>
      t(s, d, "orders").agg(
        max(to_date(col("o_orderdate"))).as("max_orderdate"),
        min(to_date(col("o_orderdate"))).as("min_orderdate"),
        count(lit(1)).as("n"))
    },
    Gate("q16_distinct",
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority") { (s, d) =>
      t(s, d, "orders").select(col("o_orderpriority")).distinct()
        .orderBy(col("o_orderpriority"))
    },
    Gate("q17_optional_sum",
      """SELECT l_returnflag, l_linestatus,
        | ROUND(SUM(CASE WHEN l_quantity < 2 THEN l_extendedprice END),2) AS opt_sum,
        | COUNT(CASE WHEN l_quantity < 2 THEN 1 END) AS n_present
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      // NaN-preserving sum semantics (A3): groups where every value is null
      // must yield null, not 0 (impact_analysis.py:152-159)
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(when(col("l_quantity") < 2, col("l_extendedprice"))), 2).as("opt_sum"),
          count(when(col("l_quantity") < 2, lit(1))).as("n_present"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Gate("q18_impact_rollup",
      s"""WITH tiles AS ($geoTilesSql), envs AS ($geoEnvelopesSql),
         |probs AS (
         | SELECT t.tile_id, t.population, e.wind_threshold, COUNT(*) AS n_members
         | FROM tiles t JOIN envs e
         |  ON t.minlon <= e.maxlon AND t.maxlon >= e.minlon
         |  AND t.minlat <= e.maxlat AND t.maxlat >= e.minlat
         | GROUP BY 1, 2, 3),
         |lbl AS (
         | SELECT *, CONCAT(CAST((CAST(tile_id AS BIGINT) % 40) // 8 AS VARCHAR), '_',
         |   CAST(((CAST(tile_id AS BIGINT) // 40) % 40) // 8 AS VARCHAR)) AS admin_id
         | FROM probs)
         |SELECT CAST(GROUPING(wind_threshold) AS INT) AS g_wind,
         |  CAST(GROUPING(admin_id) AS INT) AS g_admin,
         |  wind_threshold, admin_id,
         |  CAST((SUM(CAST(population AS BIGINT) * n_members) + 50) // 51 AS BIGINT)
         |    AS expected_pop_ceil,
         |  COUNT(*) AS n_rows
         |FROM lbl
         |GROUP BY GROUPING SETS ((wind_threshold), (wind_threshold, admin_id), ())
         |ORDER BY g_wind, g_admin, wind_threshold, admin_id""".stripMargin) { (s, d) =>
      // multi-way GROUPING SETS over the impact view (reports.py:643-677
      // per-threshold totals): ONE Expand+shuffle pass yields the
      // per-threshold expected-population totals, the per-threshold
      // admin breakdown, AND the grand total. ceil(sum(E_pop)) stays in
      // exact integer arithmetic: E = pop * n_members / 51, so
      // ceil = (sum(pop*n) + 50) div 51 — bit-identical in any engine.
      val probs = SpatialJoin.probabilityByThreshold(
          geoTiles(s, d), "geometry", geoEnvelopes(s, d), "geometry")
        .withColumn("admin_id",
          concat_ws("_", expr("CAST(tile_id AS BIGINT) % 40 div 8"),
            expr("CAST(tile_id AS BIGINT) div 40 % 40 div 8")))
      probs.createOrReplaceTempView("__q18_probs")
      s.sql("""
        SELECT CAST(GROUPING(wind_threshold) AS INT) AS g_wind,
               CAST(GROUPING(admin_id) AS INT) AS g_admin,
               wind_threshold, admin_id,
               CAST((SUM(CAST(population AS BIGINT) * n_members) + 50) div 51 AS BIGINT)
                 AS expected_pop_ceil,
               COUNT(*) AS n_rows
        FROM __q18_probs
        GROUP BY GROUPING SETS ((wind_threshold), (wind_threshold, admin_id), ())
        ORDER BY g_wind, g_admin, wind_threshold, admin_id""")
    },
    Gate("q19_bucket_agg",
      """SELECT c_mktsegment,
        | CASE WHEN c_acctbal < 0 THEN 'severe' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
        | COUNT(*) AS n, ROUND(SUM(c_acctbal),2) AS total
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // vulnerability-bucket analogue (A8): band by acctbal, bucket sums
      val band = when(col("c_acctbal") < 0, "severe")
        .when(col("c_acctbal") < 5000, "mid").otherwise("high")
      t(s, d, "customer")
        .groupBy(col("c_mktsegment"), band.as("band"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("total"))
        .orderBy(col("c_mktsegment"), col("band"))
    },
    // --- windows / sorts / top-k (W1-W5) -------------------------------
    Gate("q09_topk",
      """SELECT o_orderkey, ROUND(o_totalprice,2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 5""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(5)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
    },
    Gate("q10_first_per_key",
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS first_ship FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber) AS rn
        | FROM lineitem) t WHERE rn = 1 ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      Deltas.firstPerKey(
          t(s, d, "lineitem"), Seq("l_orderkey"),
          Seq(col("l_shipdate").asc, col("l_linenumber").asc))
        .select(col("l_orderkey"), col("l_linenumber"), to_date(col("l_shipdate")).as("first_ship"))
        .orderBy(col("l_orderkey"))
    },
    Gate("q11_argmax",
      """SELECT l_partkey, l_orderkey, ROUND(l_extendedprice,2) AS max_price FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
        |   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) t WHERE rn = 1 ORDER BY l_partkey""".stripMargin) { (s, d) =>
      Deltas.firstPerKey(
          t(s, d, "lineitem"), Seq("l_partkey"),
          Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc))
        .select(col("l_partkey"), col("l_orderkey"), round(col("l_extendedprice"), 2).as("max_price"))
        .orderBy(col("l_partkey"))
    },
    Gate("q12_lag_delta",
      """SELECT user_id, event_id,
        | ROUND(value - COALESCE(LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0),2) AS delta
        |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      // as-of predecessor (J15 analogue): per-user event deltas
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select(col("user_id"), col("event_id"),
          round(col("value") - coalesce(col("prev_value"), lit(0.0)), 2).as("delta"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Gate("q13_lead_band",
      """SELECT user_id, ROUND(SUM(band),2) AS band_sum, COUNT(*) AS n FROM (
        | SELECT user_id,
        |  ROUND(value - COALESCE(LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0),2) AS band
        | FROM events) t GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      // W5 CCI-band analogue on events: value - next value per user, weighted
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("band", round(col("value") - lead(col("value"), 1, 0.0).over(w), 2))
        .groupBy(col("user_id"))
        .agg(round(sum(col("band")), 2).as("band_sum"), count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    },
    Gate("q20_pct_change",
      """SELECT event_type, ym, total,
        | ROUND(CASE WHEN prev_total IS NULL OR prev_total = 0 THEN NULL
        |  ELSE (total - prev_total) / prev_total * 100.0 END, 4) AS pct_change
        |FROM (
        | SELECT event_type, ym, total, LAG(total) OVER (PARTITION BY event_type ORDER BY ym) AS prev_total
        | FROM (SELECT event_type, YEAR(ts)*100 + MONTH(ts) AS ym, ROUND(SUM(value),2) AS total
        |   FROM events GROUP BY 1, 2) m) t
        |ORDER BY event_type, ym""".stripMargin) { (s, d) =>
      // monthly totals + month-over-month percent change (reports.py:384-390
      // direction semantics: null when no previous)
      val monthly = t(s, d, "events")
        .groupBy(col("event_type"), (year(col("ts")) * 100 + month(col("ts"))).as("ym"))
        .agg(round(sum(col("value")), 2).as("total"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("ym"))
      monthly.withColumn("prev_total", lag(col("total"), 1).over(w))
        .withColumn("pct_change",
          round(Deltas.percentChange(col("total"), col("prev_total")), 4))
        .select(col("event_type"), col("ym"), col("total"), col("pct_change"))
        .orderBy(col("event_type"), col("ym"))
    },
    // --- set ops / distinct / dedup (D1-D4, J14) -----------------------
    Gate("q24_union_distinct",
      """SELECT COUNT(*) AS n_keys FROM (
        | SELECT o_custkey AS k FROM orders UNION SELECT c_custkey AS k FROM customer) t""".stripMargin) { (s, d) =>
      t(s, d, "orders").select(col("o_custkey").as("k"))
        .union(t(s, d, "customer").select(col("c_custkey").as("k")))
        .distinct().agg(count(lit(1)).as("n_keys"))
    },
    Gate("q23_signature_dedup",
      """SELECT COUNT(DISTINCT md5(CONCAT_WS('|', user_id, event_type, value))) AS n_distinct_sigs,
        | COUNT(*) AS n_rows FROM events""".stripMargin) { (s, d) =>
      // row-signature dedup (J14, geosight/admin_related_table.py:62-68)
      t(s, d, "events")
        .withColumn("sig", md5(concat_ws("|", col("user_id"), col("event_type"), col("value"))))
        .agg(countDistinct(col("sig")).as("n_distinct_sigs"), count(lit(1)).as("n_rows"))
    },
    // --- scalar functions (§2.7) ---------------------------------------
    Gate("q21_report_sequence",
      """WITH ev AS (
        |  SELECT user_id % 5 AS storm_id,
        |    epoch_us(ts) // 21600000000 AS step,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS iv
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), steps AS (
        |  SELECT storm_id, step, SUM(iv) AS total, COUNT(*) AS n_events
        |  FROM ev GROUP BY 1, 2
        |), seq AS (
        |  SELECT *,
        |    LAG(total) OVER (PARTITION BY storm_id ORDER BY step) AS prev_total,
        |    LAG(step) OVER (PARTITION BY storm_id ORDER BY step) AS prev_step
        |  FROM steps
        |)
        |SELECT storm_id, step, CAST(total AS BIGINT) AS total, n_events,
        |  CAST(prev_total AS BIGINT) AS prev_total, prev_step,
        |  CAST(CASE WHEN prev_total IS NULL THEN total
        |    ELSE total - prev_total END AS BIGINT) AS change,
        |  CASE WHEN prev_total IS NULL OR total - prev_total > 0
        |    THEN 'increased' ELSE 'decreased' END AS direction
        |FROM seq ORDER BY storm_id, step""".stripMargin) { (s, d) =>
      // J15 end-to-end over a 3+-step forecast sequence: per-storm 6h
      // report steps; each report as-of joins (Deltas.asofJoin, the J15
      // operator) to the latest report available at or before T-6h —
      // the previous step on the quantized series — and derives the
      // reports.py:360-391 change semantics (first report: change =
      // expected, direction 'increased'; change 0 counts 'decreased').
      // The DuckDB oracle replays it with LAG, which is equivalent on a
      // per-storm step-ordered series.
      val stepUs = 21600000000L // 6h
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select((col("user_id") % 5).as("storm_id"),
          expr(s"unix_micros(ts) div ${stepUs}L").as("step"),
          floor(col("value") * 100).cast("long").as("iv"))
      val steps = ev.groupBy("storm_id", "step")
        .agg(sum(col("iv")).as("total"), count(lit(1)).as("n_events"))
      // a step's report becomes visible to successors from (step+1)*6h on:
      // asof(left t = step*6h) then picks the latest strictly-earlier step
      val prev = steps.select(col("storm_id"),
        ((col("step") + 1) * stepUs).as("avail_us"),
        col("total").as("p_total"), col("step").as("p_step"))
      Deltas.asofJoin(
          steps.withColumn("t_us", col("step") * stepUs), prev,
          Seq("storm_id"), leftTime = "t_us", rightTime = "avail_us",
          payload = Seq("p_total", "p_step"), tieBreak = Some("p_step"))
        .withColumn("change", when(col("asof_p_total").isNull, col("total"))
          .otherwise(col("total") - col("asof_p_total")))
        .withColumn("direction",
          when(col("asof_p_total").isNull || col("change") > 0, lit("increased"))
            .otherwise(lit("decreased")))
        .select(col("storm_id"), col("step"), col("total"), col("n_events"),
          col("asof_p_total").as("prev_total"), col("asof_p_step").as("prev_step"),
          col("change"), col("direction"))
        .orderBy(col("storm_id"), col("step"))
    },
    Gate("q22_regexp_extract",
      """SELECT COALESCE(regexp_extract(p_type, '([A-Z]+)$', 1), '') AS last_word, COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      t(s, d, "part")
        .withColumn("last_word", regexp_extract(col("p_type"), "([A-Z]+)$", 1))
        .groupBy(col("last_word")).agg(count(lit(1)).as("n"))
        .orderBy(col("last_word"))
    },
    Gate("q25_map_reclass",
      """SELECT CASE WHEN p_size <= 13 THEN 1 WHEN p_size <= 23 THEN 2 ELSE 3 END AS size_class,
        | COUNT(*) AS n FROM part GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // SMOD L2→L1 style map lookup via CASE chain
      val l1 = when(col("p_size") <= 13, 1).when(col("p_size") <= 23, 2).otherwise(3)
      t(s, d, "part").groupBy(l1.as("size_class")).agg(count(lit(1)).as("n"))
        .orderBy(col("size_class"))
    },
    Gate("q26_date_arith",
      """SELECT SUBSTR(STRFTIME(ts - INTERVAL 6 HOURS, '%Y%m%d%H'), 1, 8) AS compact_day, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // compact-format conversion + −6 h shift (snowflake_utils.py:59-72)
      t(s, d, "events")
        .withColumn("shifted", col("ts") - expr("INTERVAL 6 HOURS"))
        .groupBy(date_format(col("shifted"), "yyyyMMddHH").substr(1, 8).as("compact_day"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("compact_day"))
    },
    Gate("q28_json_extract",
      """SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type")).agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },
    Gate("q29_salted_agg",
      """SELECT o_orderpriority, CAST(SUM(o_orderkey % 100) AS BIGINT) AS sum_mod, COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // two-phase salted aggregation (skew lever) — integer sums, so the
      // salt-split summation order is exact and the result hash-matches the
      // plain GROUP BY oracle
      graft.ops.Skew.saltedAgg(
          t(s, d, "orders").withColumn("mod_key", col("o_orderkey") % 100),
          Seq("o_orderpriority"), salts = 8, Seq(
            ("sum_mod", sum(col("mod_key")), (c: Column) => sum(c)),
            ("n", count(lit(1)), (c: Column) => sum(c))))
        .orderBy(col("o_orderpriority"))
    },
    Gate("q30_sessionize",
      """WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 7200000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), t AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM s)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
        | ROUND(SUM(value),2) AS total_value
        |FROM t GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      // gaps-and-islands sessionization (batch): one shuffle on user_id,
      // integer-microsecond gap compare; > 2 h of silence starts a session
      Sessionize.sessions(t(s, d, "events"), Seq("user_id"), "ts",
          gapMicros = 7200000000L, valueCol = Some("value"),
          tieBreak = Seq(col("event_id")))
        .select(col("user_id"), col("session_start"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Gate("q31_asof_join",
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, ts, event_id AS p_event_id FROM events WHERE event_type = 'purchase'
        |)
        |SELECT event_id, user_id, asof_p_event_id, wait_min FROM (
        |  SELECT c.event_id, c.user_id, p.p_event_id AS asof_p_event_id,
        |    (epoch_us(c.ts) - epoch_us(p.ts)) // 60000000 AS wait_min,
        |    ROW_NUMBER() OVER (PARTITION BY c.event_id
        |      ORDER BY p.ts DESC, p.p_event_id DESC) AS rn
        |  FROM c JOIN p ON p.user_id = c.user_id AND p.ts <= c.ts) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      // generic as-of join (pandas merge_asof backward): attach the latest
      // purchase at or before each click, per user — union + one window
      // pass, no per-key cross product (Deltas.asofJoin)
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"))
      Deltas.asofJoin(clicks, purchases, Seq("user_id"),
          leftTime = "ts", rightTime = "ts",
          payload = Seq("p_event_id", "ts"), tieBreak = Some("p_event_id"))
        .filter(col("asof_p_event_id").isNotNull)
        .withColumn("__wait_us", unix_micros(col("ts")) - unix_micros(col("asof_ts")))
        .select(col("event_id"), col("user_id"), col("asof_p_event_id"),
          expr("__wait_us div 60000000").as("wait_min"))
        .orderBy(col("event_id"))
    },
    Gate("q32_range_join",
      """WITH p AS (
        |  SELECT event_id AS p_event_id, user_id, epoch_us(ts) AS t0
        |  FROM events WHERE event_type = 'purchase'
        |), e AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, value FROM events
        |)
        |SELECT p_event_id, COUNT(*) AS n_nearby, ROUND(SUM(value),2) AS total_value
        |FROM p JOIN e ON e.user_id = p.user_id
        |  AND e.t_us > p.t0 AND e.t_us <= p.t0 + 7200000000
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // binned range join: events within (t0, t0+2h] of each purchase, same
      // user — equi-join on (user_id, time bin) + exact containment filter,
      // never a per-user cross product (RangeJoin.binnedIntervalJoin)
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"),
          (unix_micros(col("ts")) + 1).as("lo_us"),
          (unix_micros(col("ts")) + 7200000000L).as("hi_us"))
      val points = ev.select(col("user_id"), unix_micros(col("ts")).as("t_us"), col("value"))
      RangeJoin.binnedIntervalJoin(purchases, "lo_us", "hi_us",
          points, "t_us", Seq("user_id"), binWidth = 7200000000L)
        .groupBy(col("p_event_id"))
        .agg(count(lit(1)).as("n_nearby"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("p_event_id"))
    },
    Gate("q33_percentiles",
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS q25,
        | quantile_cont(l_quantity, 0.5) AS median,
        | quantile_cont(l_quantity, 0.75) AS q75,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // exact percentile aggregation (the reference's describe()/quantile
      // reporting): interpolated quartiles over integral doubles — dyadic
      // fractions, so the interpolation is bit-identical across engines
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("q75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },
    Gate("q34_pivot",
      """SELECT user_id,
        | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        | COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      // pivot (long->wide reshape, the reference's report tables): per-user
      // event counts by type; absent combinations filled with 0
      t(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    },
    Gate("q35_rollup",
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        | ROUND(SUM(o_totalprice),2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin) { (s, d) =>
      // ROLLUP hierarchy aggregation (the admin-level 0..5 rollup pattern as
      // a single multi-level pass); null-filled supertotal rows sort first
      // in both engines (Spark default NULLS FIRST, oracle forces it)
      t(s, d, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
    },
    Gate("q36_rolling_window",
      """SELECT event_id, user_id,
        | COUNT(*) OVER w AS n_24h,
        | ROUND(SUM(value) OVER w, 2) AS total_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      // rolling 24 h time-RANGE window per user (trailing event count +
      // value total) — integer-microsecond range frame, peers included
      val w = Window.partitionBy(col("user_id")).orderBy(col("__t_us"))
        .rangeBetween(-86400000000L, 0L)
      t(s, d, "events")
        .withColumn("__t_us", unix_micros(col("ts")))
        .withColumn("n_24h", count(lit(1)).over(w))
        .withColumn("total_24h", round(sum(col("value")).over(w), 2))
        .select(col("event_id"), col("user_id"), col("n_24h"), col("total_24h"))
        .orderBy(col("event_id"))
    },
    Gate("q37_hll_distinct",
      """SELECT event_type, COUNT(DISTINCT event_id) AS n_exact,
        | TRUE AS within_2pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // mergeable HLL distinct sketches (ops/Sketches): the hash check pins
      // the exact distinct AND the property that the sketch estimate tracks
      // it within 2% — so an estimator regression fails the gate
      val agged = t(s, d, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("event_id")).as("n_exact"),
          graft.ops.Sketches.hllEstimate(
            graft.ops.Sketches.hllSketch(col("event_id"))).as("__approx"))
      agged.withColumn("within_2pct",
          abs(col("__approx") - col("n_exact")).cast("double") / col("n_exact") < 0.02)
        .select(col("event_type"), col("n_exact"), col("within_2pct"))
        .orderBy(col("event_type"))
    },
    Gate("q38_heavy_hitters",
      // heavy hitters: the exact top-20 counts are fully oracle-checked; the
      // cms_ok boolean pins the sketch's (overestimate-only, eps*N) guarantee
      // in the hash — the q37 property-gate pattern for sketch outputs
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS item
        |  FROM documents
        |)
        |SELECT item, COUNT(*) AS n, TRUE AS cms_ok FROM tok
        |GROUP BY item ORDER BY n DESC, item LIMIT 20""".stripMargin) { (s, d) =>
      // heavy hitters: exact top-20 tokens (map-side-combined count) PLUS a
      // mergeable Count-Min sketch built in the same pass; cms_ok pins the
      // sketch's guarantee (estimate >= exact, <= exact + eps*N) in the
      // hash — the q37 property-gate pattern over the sketch the oracle
      // cannot reproduce, while the counts themselves ARE oracle-checked
      val toks = t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("item"))
      Sketches.cmsHeavyHitters(toks, "item", k = 20, eps = 0.001)
        .orderBy(col("n").desc, col("item"))
    },
    Gate("q40_approx_quantiles",
      // group sizes are exact and oracle-checked; rank_ok pins the GK
      // sketch's |rank - q*n| <= n/accuracy guarantee in the hash (the
      // q37/q38 property-gate pattern, completing the sketch family:
      // distinct (HLL), frequency (CMS), quantiles (GK))
      """SELECT l_returnflag, q, COUNT(*) AS n, TRUE AS rank_ok
        |FROM lineitem CROSS JOIN (VALUES (CAST(0.25 AS DOUBLE)),
        |  (CAST(0.5 AS DOUBLE)), (CAST(0.75 AS DOUBLE))) v(q)
        |GROUP BY l_returnflag, q ORDER BY l_returnflag, q""".stripMargin) { (s, d) =>
      // quantile sketch (GK, Spark's approx_percentile — mergeable like
      // q37's HLL and q38's CMS): per-group p25/p50/p75 estimates, audited
      // by joining each estimate back and measuring its TRUE rank. rank_ok
      // pins the sketch guarantee |rank - q*n| <= eps*n (eps = 1/accuracy)
      // in the hash; the group sizes are oracle-checked exactly. Exact
      // per-group percentiles stay q33's job — this is the 100 TB path
      // where exact ranks would shuffle the whole column per query.
      val acc = 1000
      val li = t(s, d, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
      val qs = Seq(0.25, 0.5, 0.75)
      val est = li.groupBy(col("l_returnflag"))
        .agg(approx_percentile(col("l_extendedprice"),
          array(qs.map(lit): _*), lit(acc)).as("vs"))
        .select(col("l_returnflag"),
          posexplode(col("vs")).as(Seq("qi", "v")))
      val audited = li.join(broadcast(est), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"), col("qi"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") <= col("v"), 1L).otherwise(0L)).as("rank"))
        .withColumn("q", element_at(array(qs.map(lit): _*), col("qi") + 1))
        .withColumn("rank_ok",
          abs(col("rank") - col("q") * col("n")) <= col("n").cast("double") / acc + 1)
      audited.select(col("l_returnflag"), col("q"), col("n"), col("rank_ok"))
        .orderBy(col("l_returnflag"), col("q"))
    },
    Gate("q39_bloom_semi",
      // the Bloom prefilter is exactness-preserving (no false negatives +
      // exact post-join), so the oracle is the plain semi-join
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      // Bloom-prefiltered semi-join: the dimension's key set reduces to a
      // broadcast Bloom filter that drops non-matching fact rows BEFORE the
      // shuffle; the exact semi-join clears false positives, so the result
      // is bit-identical to the plain semi-join the oracle runs
      BloomJoin.bloomSemiJoin(
          t(s, d, "lineitem"),
          t(s, d, "orders").filter(col("o_totalprice") > 300000),
          "l_orderkey", "o_orderkey", expectedItems = 10000, fpp = 0.03)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Gate("q47_funnel", funnelOracleSql) { (s, d) =>
      // ordered funnel (view → click → purchase within 7 days): three
      // successive min-after-predecessor aggregates; each stage is a keyed
      // agg + broadcastable join on the shrinking user set. Timestamps
      // emitted as epoch micros (exact integer bridge to the oracle).
      val ev = t(s, d, "events").select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("us") > col("t1"))
        .groupBy("user_id").agg(min("us").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("us") > col("t2"))
        .groupBy("user_id").agg(min("us").as("t3"))
      s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
        .withColumn("converted",
          coalesce(col("t3") - col("t1") <= 604800000000L, lit(false)))
        .orderBy(col("user_id"))
    },
    Gate("q48_cohort_retention",
      """WITH ev AS (
        |  SELECT user_id,
        |    (epoch_us(ts) - 1704067200000000) // 604800000000 AS week
        |  FROM events
        |), c AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY 1)
        |SELECT c.cohort_week, ev.week - c.cohort_week AS offset_week,
        |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // cohort retention triangle: cohort = week of first event, offset =
      // event week − cohort week, cell = distinct active users. Two keyed
      // aggs; the first-event table is user-sized and broadcast back.
      val ev = t(s, d, "events").select(col("user_id"),
        expr("(unix_micros(ts) - 1704067200000000) div 604800000000").as("week"))
      val cohorts = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      ev.join(cohorts, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("offset_week"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("offset_week"))
    },
    Gate("q49_resample_locf",
      """WITH ev AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    epoch_us(ts) // 86400000000 AS d
        |  FROM events
        |), per_day AS (
        |  SELECT user_id, d, value FROM (
        |    SELECT user_id, d, value,
        |      row_number() OVER (PARTITION BY user_id, d
        |                         ORDER BY us DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1
        |), grid AS (
        |  SELECT user_id, unnest(range(MIN(d), MAX(d) + 1)) AS d
        |  FROM ev GROUP BY user_id
        |)
        |SELECT g.user_id, g.d AS day,
        |  last_value(p.value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
        |FROM grid g LEFT JOIN per_day p ON g.user_id = p.user_id AND g.d = p.d
        |ORDER BY g.user_id, g.d""".stripMargin) { (s, d) =>
      // time-series resampling to a per-user daily grid with last-
      // observation-carried-forward: per-(user, day) latest value (one
      // window), per-user day grid (sequence + explode — narrow), LOCF via
      // last(ignoreNulls) over the ordered grid. Values are carried
      // verbatim (no float arithmetic) — hash-safe.
      val ev = t(s, d, "events").select(col("user_id"), col("event_id"),
        col("value"), unix_micros(col("ts")).as("us"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      val wLast = Window.partitionBy("user_id", "d")
        .orderBy(col("us").desc, col("event_id").desc)
      val perDay = ev.withColumn("__rn", row_number().over(wLast))
        .filter(col("__rn") === 1).select(col("user_id"), col("d"), col("value"))
      val grid = ev.groupBy("user_id")
        .agg(min("d").as("d0"), max("d").as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("d"))
      val wLocf = Window.partitionBy("user_id").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(perDay, Seq("user_id", "d"), "left")
        .withColumn("locf_value", last(col("value"), ignoreNulls = true).over(wLocf))
        .select(col("user_id"), col("d").as("day"), col("locf_value"))
        .orderBy(col("user_id"), col("day"))
    },
    Gate("q50_pagerank", pageRankOracleSql) { (s, d) =>
      // 5 power-iteration rounds on the same deterministic affine-map graph
      // as q46, with the ORDERED-fold variant: every inbound sum folds in
      // ascending-src order, so all 5 rounds of doubles are bit-identical
      // across engines (the q45 exact-fold trick) and the top-20 ranks
      // hash-check against DuckDB's unrolled 5-round CTE. Production path
      // is the unordered map-side-combinable sum (orderedFold = false).
      graft.ops.Graph.pageRank(affinePartGraph(s, d), iterations = 5,
          damping = 0.85, orderedFold = true)
        .orderBy(col("r").desc, col("v")).limit(20)
    },
    Gate("q52_bfs_distances",
      // q52: recursive-CTE shortest paths over the same affine-map graph.
      // UNION (distinct) recursion generates every (v, depth<=12) pair once;
      // MIN(d) is the hop distance — exact integers end to end, so the full
      // distance map is hash-safe.
      """WITH RECURSIVE n AS (SELECT COUNT(*) AS n FROM part),
        |raw AS (
        |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n.n) + 1 AS dst FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n.n) + 1 FROM part, n
        |), e AS (
        |  SELECT DISTINCT src, dst FROM raw WHERE src <> dst
        |), bfs AS (
        |  SELECT CAST(v AS BIGINT) AS v, 0 AS d FROM (VALUES (1), (2), (3)) AS s(v)
        |  UNION
        |  SELECT e.dst AS v, bfs.d + 1 AS d FROM bfs JOIN e ON e.src = bfs.v
        |  WHERE bfs.d < 12
        |)
        |SELECT v, CAST(MIN(d) AS INTEGER) AS d FROM bfs GROUP BY v ORDER BY v""".stripMargin) { (s, d) =>
      // multi-source BFS (Graph.bfsDistances) on the q46/q50 graph:
      // level-synchronous frontier expansion, one frontier-keyed equi-join
      // + anti-join per round, adaptive driver path on small graphs. Hop
      // counts are exact integers, so the full distance map hash-checks
      // against DuckDB's recursive-CTE shortest paths.
      import s.implicits._
      graft.ops.Graph.bfsDistances(affinePartGraph(s, d),
          Seq(1L, 2L, 3L).toDF("v"), maxDepth = 12)
        .orderBy("v")
    },
    Gate("q53_kmv_overlap", kmvOverlapOracleSql) { (s, d) =>
      // KMV min-k sketches (ops/Kmv): per-priority sketch of the distinct
      // o_custkey set (k = 64 smallest md5s), then DIRECT pairwise
      // Jaccard/intersection estimation from the sketches alone — the set
      // operation HLL can't do without inclusion-exclusion blow-up. The
      // sketch contents and overlap counts are exact integers/strings
      // (lexicographic min-k over fixed-width hex), so the whole result
      // hash-checks; jaccard_est = both_k/union_k is one IEEE divide of
      // those integers, safe to hash too.
      graft.ops.Kmv.shardOverlap(t(s, d, "orders"),
        "o_orderpriority", "o_custkey", k = 64)
    },
    Gate("q54_skyline",
      // q54: the O(n²) dominance definition — the distributed bucketed plan
      // must reproduce it exactly (ties and duplicate points included).
      """SELECT p1.p_partkey, p1.p_size, p1.p_retailprice FROM part p1
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part p2
        |  WHERE p2.p_size <= p1.p_size AND p2.p_retailprice <= p1.p_retailprice
        |    AND (p2.p_size < p1.p_size OR p2.p_retailprice < p1.p_retailprice))
        |ORDER BY p1.p_size, p1.p_retailprice, p1.p_partkey""".stripMargin) { (s, d) =>
      // distributed 2-D Pareto frontier (ops/Skyline): parts minimizing
      // (p_size, p_retailprice) — bucket-partitioned local skylines, two
      // keyed windows, broadcast cross-bucket min merge. The oracle is the
      // O(n²) NOT EXISTS dominance definition; the distributed plan must
      // reproduce it exactly, ties and duplicate points included.
      graft.ops.Skyline.pareto2d(t(s, d, "part"), "p_size", "p_retailprice")
        .select(col("p_partkey"), col("p_size"),
          col("p_retailprice"))
        .orderBy("p_size", "p_retailprice", "p_partkey")
    },
    Gate("q55_mad_outliers",
      // q55: structural median/MAD — both engines pick ranks ⌊(n+1)/2⌋ and
      // ⌊(n+2)/2⌋ from the same per-group sort and fold them with ONE add +
      // ONE divide, so the doubles are bit-identical (no interpolation
      // formula in play; see PERF.md's float-determinism note).
      """WITH b AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS x
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT event_type, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM b
        |), m AS (
        |  SELECT event_type, SUM(x) / COUNT(*) AS med
        |  FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY event_type
        |), dev AS (
        |  SELECT b.event_type, ABS(b.x - m.med) AS dv, m.med AS med
        |  FROM b JOIN m USING (event_type)
        |), r2 AS (
        |  SELECT event_type, dv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dv) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev
        |), mad AS (
        |  SELECT event_type, SUM(dv) / COUNT(*) AS mad
        |  FROM r2 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  GROUP BY event_type
        |)
        |SELECT d.event_type, d.med AS med, mad.mad AS mad,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN d.dv > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, d) =>
      // robust per-group outlier gate (ops/Robust): EXACT median + MAD via
      // structural rank selection (both engines pick the same two middle
      // rows and fold them with one add + one divide), then count rows with
      // |x - med| > 3*MAD. Every float op is a single correctly-rounded
      // IEEE operation on identical operands — bit-identical across
      // engines, so med/mad/n_outliers all hash-check (see the PERF.md
      // float-determinism note: interpolated percentiles are NOT safe; this
      // construction is).
      graft.ops.Robust.madOutliers(t(s, d, "events"), Seq("event_type"), "value")
        .orderBy("event_type")
    },
    Gate("q56_trend", trendOracleSql) { (s, d) =>
      // exact per-group OLS trend as a RATIONAL (ops/Regression): x = day
      // index, y = centi-quantized value — every Σ is an exact 64-bit
      // integer, so slope/intercept numerators and denominator hash-check
      // bit for bit (float sums of raw doubles would not; see PERF.md).
      // One map-side-combinable aggregate, no window.
      val ev = t(s, d, "events")
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("x"),
          floor(col("value") * 100).as("y"))
      graft.ops.Regression.exactOlsRational(ev, Seq("event_type"), "x", "y")
        .orderBy("event_type")
    },
    Gate("q57_weighted_median",
      // q57: ties collapsed on (group, x) first, then the integer 2·cumw ≥ W
      // rule over distinct x — identical construction both engines.
      """WITH perx AS (
        |  SELECT l_returnflag, l_quantity AS x,
        |    SUM(CAST(l_linenumber AS BIGINT)) AS w
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2
        |), c AS (
        |  SELECT l_returnflag, x,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
        |  FROM perx
        |)
        |SELECT l_returnflag, MIN(x) AS wmed FROM c
        |WHERE cw * 2 >= tw GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // lower weighted median (ops/Robust.weightedMedian): smallest
      // quantity whose cumulative line-number weight reaches half the
      // group total — ties collapsed on (group, x) BEFORE the cumulative
      // pass, 2·cumw ≥ W in pure integers; the windows run over ≤50
      // distinct quantities per group, not the raw rows.
      graft.ops.Robust.weightedMedian(t(s, d, "lineitem"),
          Seq("l_returnflag"), "l_quantity", "l_linenumber")
        .orderBy("l_returnflag")
    },
    Gate("q58_transitions",
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |)
        |SELECT prev AS from_type, event_type AS to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM r WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // first-order Markov transition counts over each user's event
      // sequence (user-journey analysis): ONE keyed lag window (parallel
      // across users, (ts, event_id) total order makes the lag
      // deterministic under timestamp ties) + one map-side-combinable
      // count. Integers only. Null user_id/ts rows are dropped explicitly:
      // s14's typed stream decode (primitive Long fields) can't carry
      // them, and a null ts would sort nulls-first here vs nulls-last in
      // DuckDB — the filter pins identical semantics in all three places.
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_type"),
          col("ts"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      ev.withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    },
    Gate("q59_concurrency",
      // q59: same +1/-1 sweep — ends before starts at equal instants, the
      // peak and its earliest time are order-independent under tied deltas.
      """WITH iv AS (
        |  SELECT event_type, epoch_us(ts) AS st,
        |    epoch_us(ts) + (CAST(floor(value) AS BIGINT) + 1) * 1000000 AS en
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        |), deltas AS (
        |  SELECT event_type, st AS t, CAST(1 AS BIGINT) AS d FROM iv
        |  UNION ALL SELECT event_type, en, CAST(-1 AS BIGINT) FROM iv
        |), run AS (
        |  SELECT event_type, t,
        |    SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM deltas
        |), mx AS (
        |  SELECT event_type, MAX(c) AS max_concurrent FROM run GROUP BY 1
        |)
        |SELECT r.event_type, CAST(m.max_concurrent AS BIGINT) AS max_concurrent,
        |  MIN(r.t) AS peak_us
        |FROM run r JOIN mx m ON r.event_type = m.event_type
        |  AND r.c = m.max_concurrent
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
      // sweep-line max concurrency per event_type: each event holds for
      // floor(value)+1 seconds; +1/-1 boundary deltas, ends sorted before
      // starts at equal time ([s, e) semantics), ONE keyed running-sum
      // window, then max + earliest peak instant. Tied deltas make the
      // intermediate running sums order-dependent but not the maximum or
      // its earliest time — the hashed output is deterministic.
      val iv = t(s, d, "events")
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"), unix_micros(col("ts")).as("st"),
          (unix_micros(col("ts")) +
            (floor(col("value")).cast("long") + 1) * 1000000L).as("en"))
      val deltas = iv.select(col("event_type"), col("st").as("t"), lit(1L).as("d"))
        .unionByName(iv.select(col("event_type"), col("en").as("t"), lit(-1L).as("d")))
      val w = Window.partitionBy("event_type").orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val run = deltas.withColumn("c", sum(col("d")).over(w))
      val mx = run.groupBy("event_type").agg(max(col("c")).as("max_concurrent"))
      run.join(mx, Seq("event_type"))
        .filter(col("c") === col("max_concurrent"))
        .groupBy("event_type")
        .agg(first(col("max_concurrent")).as("max_concurrent"),
          min(col("t")).as("peak_us"))
        .orderBy("event_type")
    },
    Gate("q60_snapshot_diff",
      // q60: same full outer join, per-column IS DISTINCT FROM = the
      // null-safe struct compare.
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
        |), o AS (SELECT * FROM base WHERE o_orderkey % 10 <> 0),
        |n AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM base WHERE o_orderkey % 7 <> 0
        |), d AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    CASE WHEN n.o_orderkey IS NULL THEN o.o_custkey
        |         ELSE n.o_custkey END AS o_custkey,
        |    CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice
        |         ELSE n.o_totalprice END AS o_totalprice,
        |    CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus
        |         ELSE n.o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'I'
        |         WHEN n.o_orderkey IS NULL THEN 'D'
        |         WHEN (o.o_custkey IS DISTINCT FROM n.o_custkey)
        |           OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
        |           OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
        |         THEN 'U' END AS change_type
        |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
        |)
        |SELECT * FROM d WHERE change_type IS NOT NULL ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      // lakehouse TABLE DIFF (Cdc.snapshotDiff — applyChangeset's inverse):
      // two deterministic snapshot versions of orders (keys %10 dropped /
      // %7 dropped, %3 prices bumped) → the minimal I/U/D changeset from
      // ONE full outer join, payloads compared null-safe as structs.
      // CdcSpec pins the round-trip law (apply(old, diff) == new).
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"))
      val old = base.filter(col("o_orderkey") % 10 =!= 0)
      val nw = base.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      graft.ops.Cdc.snapshotDiff(old, nw, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
    Gate("q51_ivm_refresh",
      // q51/s12's oracle deliberately recomputes the aggregate FROM SCRATCH
      // over the changed base (survivors = base minus deleted bucket plus the
      // non-bucket-3 post-cutoff inserts): the Spark side must reproduce it
      // via the incremental delta-merge path (batch q51, streamed s12),
      // including dropping bucket 3's groups when their refreshed count
      // reaches zero.
      ivmOracleSql) { (s, d) =>
      // INCREMENTAL VIEW MAINTENANCE (ops/Ivm): materialize a per-key
      // COUNT+SUM view over the base slice, then apply a multiplicity-
      // weighted change set (deletes that wipe every user_bucket-3 row,
      // inserts from the post-cutoff slice) WITHOUT rescanning the base.
      // The oracle is the full recompute over the changed base — proving
      // delta-merge ≡ re-materialization, including whole-group drops
      // (bucket 3 vanishes: refreshed n_rows hits 0). Sum column is an
      // integer (floor(value*100)), so the hash is float-safe.
      import graft.ops.Ivm
      val ev = t(s, d, "events").select(col("event_type"),
        (col("user_id") % 10).as("user_bucket"),
        floor(col("value") * 100).as("iv"), col("ts"))
      val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
      val base = ev.filter(col("ts") < cutoff)
      val view = Ivm.materialize(base,
        Seq("event_type", "user_bucket"), Seq("iv"))
      val deletes = base.filter(col("user_bucket") === 3)
        .withColumn("__mult", lit(-1L))
      val inserts = ev.filter(col("ts") >= cutoff && col("user_bucket") =!= 3)
        .withColumn("__mult", lit(1L))
      Ivm.refresh(view, deletes.unionByName(inserts),
          Seq("event_type", "user_bucket"), Seq("iv"), "__mult")
        .orderBy("event_type", "user_bucket")
    },
    Gate("q46_triangle_count",
      """WITH n AS (SELECT COUNT(*) AS n FROM part),
        |raw AS (
        |  SELECT p_partkey AS src, ((p_partkey * 31 + 7) % n.n) + 1 AS dst FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 17 + 3) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 13 + 11) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 7 + 1) % n.n) + 1 FROM part, n
        |  UNION ALL SELECT p_partkey, ((p_partkey * 41 + 19) % n.n) + 1 FROM part, n
        |), e AS (
        |  SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS t
        |  FROM raw WHERE src <> dst
        |)
        |SELECT CAST((SELECT COUNT(*) FROM e e1
        |  JOIN e e2 ON e1.t = e2.s AND e1.s < e2.s
        |  JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t) AS BIGINT) AS n_triangles""".stripMargin) { (s, d) =>
      // degree-oriented distributed triangle count (Suri-Vassilvitskii) on a
      // deterministic sparse affine-map graph over part keys — scale-free
      // density (5 out-edges/vertex at every SF), so the wedge join stays
      // bounded where a co-occurrence graph goes complete
      val raw = affinePartGraph(s, d)
      graft.ops.Graph.triangleCount(raw.filter(col("src") =!= col("dst")))
    },
    Gate("q43_cdc_merge", cdcMergeOracleSql) { (s, d) =>
      // Lakehouse MERGE INTO (SCD1 latest-wins): snapshot = per-customer
      // latest order state before the cutoff; changes = post-cutoff orders
      // (seq = orderkey, status F = tombstone). One window over changes +
      // key-only anti-join + union — the copy-on-write MERGE shape.
      val orders = t(s, d, "orders")
      def state(df: DataFrame): DataFrame = df.select(
        col("o_custkey").as("custkey"), col("o_orderkey").as("last_orderkey"),
        col("o_totalprice").as("last_price"), col("o_orderstatus").as("last_status"))
      val wSnap = Window.partitionBy("custkey").orderBy(col("last_orderkey").desc)
      val snapshot = state(orders.filter(col("o_orderdate") < lit("1997-01-01")))
        .withColumn("__rn", row_number().over(wSnap))
        .filter(col("__rn") === 1).drop("__rn")
      val changes = state(orders.filter(col("o_orderdate") >= lit("1997-01-01")))
        .withColumn("__seq", col("last_orderkey"))
        .withColumn("__del", col("last_status") === "F")
      graft.ops.Cdc.applyChangeset(snapshot, changes, Seq("custkey"), "__seq", "__del")
        .orderBy(col("custkey"))
    },
    Gate("q61_grouping_sets",
      """SELECT CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
        |  o_orderpriority, o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        |ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus""".stripMargin) { (s, d) =>
      // explicit GROUPING SETS — the third multi-level-agg form next to
      // q35's ROLLUP and q44's CUBE: two independent one-dimension slices
      // ((priority), (status)) in ONE pass over orders (Catalyst Expand +
      // one shuffle), disambiguated by GROUPING flags.
      val ss = s
      t(ss, d, "orders").createOrReplaceTempView("__q61_orders")
      ss.sql("""
        SELECT CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
               o_orderpriority, o_orderstatus,
               COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        FROM __q61_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus""")
    },
    Gate("q62_label_prop", labelPropOracleSql) { (s, d) =>
      // synchronous label propagation (Graph.labelPropagation) on the
      // q46/q50 affine graph, 3 rounds: per round one neighbour-keyed
      // equi-join + (v,label) count + argmax re-key (max-count,
      // min-label tie-break). Labels are exact longs, so all 3 rounds
      // hash-check against DuckDB's unrolled window-ranked replay.
      graft.ops.Graph.labelPropagation(affinePartGraph(s, d), rounds = 3)
        .orderBy("v")
    },
    Gate("q66_modularity", modularityOracleSql) { (s, d) =>
      // Newman modularity of q62's LPA labelling as an EXACT RATIONAL
      // (Graph.modularity): q_num/q_den = Σ_c(4·m·l_c − D_c²) / 4m², all
      // 64-bit integers — the quality gate that tells you whether the
      // community structure beats random expectation, float-free.
      val edges = affinePartGraph(s, d)
      graft.ops.Graph.modularity(edges,
        graft.ops.Graph.labelPropagation(edges, rounds = 3))
    },
    Gate("q63_sssp", ssspOracleSql) { (s, d) =>
      // round-synchronous Bellman-Ford (Graph.shortestPaths) over the
      // affine graph with deterministic integer weights w = (src*7 +
      // dst*3) % 20 + 1, sources {1,2,3}, at most 6 relaxation rounds.
      // Distances are exact longs (no float anywhere) and extra rounds
      // past convergence are no-ops, so the ≤6-round distance map
      // hash-checks against DuckDB's 6 unrolled min-relaxation CTEs.
      import s.implicits._
      val e = affinePartGraph(s, d).select(col("src"), col("dst"),
        ((col("src") * 7 + col("dst") * 3) % 20 + 1).as("w"))
      graft.ops.Graph.shortestPaths(e, Seq(1L, 2L, 3L).toDF("v"), maxRounds = 6)
        .orderBy("v")
    },
    Gate("q76_scc",
      // q76: the planted block-cycle digraph's SCCs are known in closed
      // form — each 8-key block is one cycle (one SCC labelled by its
      // min = block start); the star forward bridges merge nothing.
      """SELECT p_partkey AS v,
        |  (p_partkey // 8) * 8 AS component
        |FROM part ORDER BY v""".stripMargin) { (s, d) =>
      // strongly connected components (Graph.stronglyConnectedComponents,
      // coloring/FW-BW-MIN) over a PLANTED digraph from part keys: each
      // block of 8 consecutive keys forms a directed cycle (one SCC; the
      // tail block wraps early), plus STAR forward bridges 0 -> blockStart
      // (the ScaleBench scc shape) — bridges merge nothing, so the engine
      // must recover component = block start, which the oracle states in
      // closed form. Star (not chained) bridges keep the condensation at
      // depth 2: the coloring SCC's outer rounds track condensation
      // depth, so the distributed path (forced at scale when part exceeds
      // localThreshold) settles in ~2 outer rounds instead of the ~n/8 a
      // chained condensation would need — the planted shape itself must
      // be 100 TB-safe, not just the algorithm.
      // part keys are 0-based (0..n-1)
      val n = t(s, d, "part").count()
      val v = t(s, d, "part")
        .select(col("p_partkey").cast("long").as("v"))
      val bStart = expr("(v div 8) * 8")
      val bEnd = least(bStart + 7, lit(n - 1))
      val cycle = v.select(col("v").as("src"),
        when(col("v") === bEnd, bStart).otherwise(col("v") + 1).as("dst"))
      val bridge = v.filter(col("v") % 8 === 0 && col("v") > 0)
        .select(lit(0L).as("src"), col("v").as("dst"))
      graft.ops.Graph.stronglyConnectedComponents(cycle.unionByName(bridge))
        .orderBy("v")
    },
    Gate("q79_subtree_rollup",
      """WITH k AS (SELECT p_partkey + 1 AS v FROM part),
        |nn AS (SELECT MAX(v) AS n FROM k)
        |SELECT k.v,
        |  CAST(SUM(CASE WHEN k.v * (1 << j.j) <= nn.n THEN
        |    ((k.v * (1 << j.j)) +
        |     LEAST(k.v * (1 << j.j) + (1 << j.j) - 1, nn.n)) *
        |    (LEAST(k.v * (1 << j.j) + (1 << j.j) - 1, nn.n)
        |     - k.v * (1 << j.j) + 1) // 2
        |  ELSE 0 END) AS BIGINT) AS subtree_sum
        |FROM k CROSS JOIN nn, LATERAL (SELECT unnest(range(0, 40)) AS j) j
        |GROUP BY k.v ORDER BY k.v""".stripMargin) { (s, d) =>
      // hierarchical (recursive) aggregation — the org-chart/BOM rollup
      // (ops/Hierarchy.subtreeSum): per node, the sum of values over its
      // whole descendant subtree, computed as bounded-round upward
      // accumulation (mass moves one edge per round and co-located mass
      // SUMS, so rounds = tree depth, moving set <= one row per node).
      // The planted forest is the binary tree parent(k) = k/2 over part
      // keys 1..n with value = key, whose subtree sums the oracle states
      // in CLOSED FORM (descendants of v at depth j are the consecutive
      // range [v·2^j, v·2^j + 2^j - 1] ∩ [1, n] — arithmetic-series
      // sums, no recursion).
      val keys = t(s, d, "part")
        .select((col("p_partkey") + 1).cast("long").as("v")) // 1-based
      val edges = keys.filter(col("v") >= 2)
        .select(col("v").as("child"), expr("v div 2").as("parent"))
      graft.ops.Hierarchy.subtreeSum(
          edges, keys.withColumn("value", col("v")))
        .orderBy("v")
    },
    Gate("q80_node_depth",
      // q79: the binary forest parent(k) = k/2 has closed-form subtree
      // sums — descendants of v at depth j are the consecutive range
      // [v·2^j, v·2^j + 2^j − 1] ∩ [1, n], so each level contributes one
      // arithmetic-series sum. The generic engine must recover them by
      // upward accumulation.
      """WITH k AS (SELECT p_partkey + 1 AS v FROM part)
        |SELECT k.v, CAST(1 AS BIGINT) AS root,
        |  CAST(SUM(CASE WHEN k.v >= (1 << j.j) THEN 1 ELSE 0 END) AS BIGINT) AS depth
        |FROM k, LATERAL (SELECT unnest(range(1, 40)) AS j) j
        |GROUP BY k.v ORDER BY k.v""".stripMargin) { (s, d) =>
      // downward hierarchical propagation (Hierarchy.depthAndRoot): per
      // node, its root and depth — inherited-attribute resolution over
      // the same planted binary forest as q79. The oracle states depth
      // in closed form: depth(v) = number of powers of two <= v, minus
      // one (Σ_j [v >= 2^j]).
      val keys = t(s, d, "part")
        .select((col("p_partkey") + 1).cast("long").as("v"))
      val edges = keys.filter(col("v") >= 2)
        .select(col("v").as("child"), expr("v div 2").as("parent"))
      graft.ops.Hierarchy.depthAndRoot(edges, keys)
        .orderBy("v")
    },
    Gate("q83_grouping_sets", sqlGroupingSetsSql) { (s, d) =>
      // multi-granularity aggregation in ONE pass — GROUPING SETS with
      // GROUPING() markers as one shared SQL text both engines run
      // (detail, per-nation subtotal, grand total). Catalyst plans this
      // as a single Expand + aggregate (one scan, one shuffle — not
      // three scans unioned), the §2.4 rollup surface a warehouse runs
      // constantly. COALESCE names the subtotal rows so no NULLs reach
      // the hash gate.
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      t(s, d, "nation").createOrReplaceTempView("nation")
      s.sql(sqlGroupingSetsSql)
    },
    Gate("q84_kcore",
      // q84: the planted block-clique+path graph's coreness is known in
      // closed form — clique position => m-1, path position => 1.
      """SELECT p_partkey AS v,
        |  CAST(CASE WHEN p_partkey % 8 < 3 + (p_partkey // 8) % 6
        |       THEN 2 + (p_partkey // 8) % 6 ELSE 1 END AS BIGINT) AS coreness
        |FROM part
        |WHERE p_partkey < (SELECT (COUNT(*) // 8) * 8 FROM part)
        |ORDER BY v""".stripMargin) { (s, d) =>
      // k-core decomposition (Graph.kCoreness, distributed peeling) over
      // a PLANTED graph with closed-form coreness: each full block of 8
      // part keys carries an m-clique (m = 3 + block%6) on its first m
      // positions plus a path chaining the remaining positions off the
      // clique's last member. Clique members peel together in phase m
      // (coreness m−1); path vertices cascade out in phase 2 (coreness
      // 1) — the generic peeling engine must recover the closed form
      // CASE pos < m THEN m−1 ELSE 1 the oracle states. Partial tail
      // blocks are excluded so the closed form stays total.
      val n = t(s, d, "part").count()
      val full = (n / 8) * 8
      val vv = t(s, d, "part")
        .select(col("p_partkey").cast("long").as("v"))
        .filter(col("v") < full)
        .select(col("v"), expr("v div 8").as("b"), (col("v") % 8).as("p"),
          expr("3 + (v div 8) % 6").as("m"))
      val cl = vv.filter(col("p") < col("m"))
      val cliqueEdges = cl.select(col("b"), col("p").as("p1"), col("v").as("src"))
        .join(cl.select(col("b"), col("p").as("p2"), col("v").as("dst")), Seq("b"))
        .filter(col("p1") < col("p2"))
        .select("src", "dst")
      val pathEdges = vv.filter(col("p") >= col("m") - 1 && col("p") < 7)
        .select(col("v").as("src"), (col("v") + 1).as("dst"))
      graft.ops.Graph.kCoreness(cliqueEdges.unionByName(pathEdges))
        .orderBy("v")
    },
    Gate("q85_gapfill_interpolate",
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |    ROUND(SUM(value), 2) AS v
        |  FROM events WHERE value > 190 GROUP BY 1, 2
        |), spine AS (
        |  SELECT event_type, unnest(range(lo, hi + 1)) AS day
        |  FROM (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
        |        FROM daily GROUP BY 1)
        |), j AS (
        |  SELECT s.event_type, s.day, d.v
        |  FROM spine s LEFT JOIN daily d
        |    ON d.event_type = s.event_type AND d.day = s.day
        |), w AS (
        |  SELECT event_type, day, v,
        |    LAST_VALUE(v IGNORE NULLS) OVER pw AS pv,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER pw AS pb,
        |    FIRST_VALUE(v IGNORE NULLS) OVER nw AS nv,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER nw AS nb
        |  FROM j
        |  WINDOW pw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  nw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT event_type, CAST(day AS INT) AS day,
        |  ROUND(CASE WHEN v IS NOT NULL THEN v
        |    ELSE pv + (nv - pv) * CAST(day - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)
        |  END, 4) AS v,
        |  v IS NULL AS filled
        |FROM w ORDER BY event_type, day""".stripMargin) { (s, d) =>
      // time-series gap fill + linear interpolation (ops/GapFill): daily
      // high-value sums per event_type are sparse (~30% missing days);
      // the series densifies to each type's full day range and interior
      // gaps interpolate between observed neighbours. Inputs are rounded
      // BEFORE interpolation (the q01 double-sum contract), and the
      // interpolation expression is one fixed IEEE op tree, so the
      // filled doubles replay bit-for-bit in the oracle's window twin.
      val daily = t(s, d, "events")
        .filter(col("value") > 190)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01")).as("day"))
        .agg(round(sum(col("value")), 2).as("v"))
      graft.ops.GapFill.fillInterpolate(daily, Seq("event_type"), "day", "v")
        .select(col("event_type"), col("day").cast("int").as("day"),
          round(col("v"), 4).as("v"), col("filled"))
        .orderBy("event_type", "day")
    },
    Gate("q88_unpivot",
      // q85: spine + two IGNORE NULLS neighbour windows + the same fixed
      // interpolation tree over the same ROUND(,2)-pinned daily sums
      // q88: the melt unrolled as UNION ALL — the engine-neutral spelling
      // (DuckDB's UNPIVOT statement syntax differs from Spark's; the
      // CONTENT is what the gate pins). All-integer metrics.
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, 'n_items' AS metric, n_items AS value FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'distinct_parts' AS metric, distinct_parts FROM agg
        |ORDER BY l_returnflag, metric""".stripMargin) { (s, d) =>
      // UNPIVOT (wide→long melt, the inverse reshape of q34's pivot):
      // a per-returnflag metric table (3 BIGINT metric columns — count,
      // integral quantity sum, distinct parts) melts to (flag, metric,
      // value) rows via Dataset.unpivot. All metrics are exact integers,
      // so the oracle (a UNION ALL unroll — the engine-neutral spelling)
      // hashes bit-for-bit.
      val agg = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          countDistinct(col("l_partkey")).as("distinct_parts"))
      agg.unpivot(Array(col("l_returnflag")),
          Array(col("n_items"), col("sum_qty"), col("distinct_parts")),
          "metric", "value")
        .orderBy("l_returnflag", "metric")
    },
    Gate("q91_ewma",
      // q91: the same pinned-order fold — DuckDB list_reduce seeds with
      // the first element exactly like the null-init Spark fold, and each
      // step is the identical e*0.5 + x*0.5 op tree
      """SELECT user_id,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |    (e, x) -> e * 0.5 + x * 0.5) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      // EWMA smoothing per user (ops/GapFill.ewma): e ← e/2 + x/2 over
      // the (ts, event_id) order, seeded with the first value. α = 0.5
      // is dyadic and the fold order is pinned, so the final smoothed
      // double replays bit-for-bit in the oracle's list_reduce (the
      // shared ordered-fold contract).
      graft.ops.GapFill.ewma(t(s, d, "events"), Seq("user_id"),
          "ts", "event_id", "value", alpha = 0.5)
        .orderBy("user_id")
    },
    Gate("q89_ohlc_resample",
      // q89: OHLC bars — open/close via arg_min/arg_max on ts (unique
      // within (event_type, hour) at every SF, verified), high/low/count
      // order-free; no float folds anywhere, so doubles match exactly.
      """SELECT event_type, date_trunc('hour', ts) AS bar_ts,
        |  arg_min(value, ts) AS open, MAX(value) AS high, MIN(value) AS low,
        |  arg_max(value, ts) AS close, CAST(COUNT(*) AS BIGINT) AS volume
        |FROM events GROUP BY event_type, date_trunc('hour', ts)
        |ORDER BY event_type, bar_ts""".stripMargin) { (s, d) =>
      // OHLC time-bar resample (ops/GapFill.ohlcBars): hourly
      // open/high/low/close/volume bars per event_type over the raw tick
      // stream — picks and extremes only (min_by/max_by/min/max/count),
      // never a float fold, so the bars replay bit-for-bit in the
      // arg_min/arg_max oracle. One partial-aggregated shuffle.
      graft.ops.GapFill.ohlcBars(t(s, d, "events"),
          Seq("event_type"), "ts", "value", "hour")
        .orderBy("event_type", "bar_ts")
    },
    Gate("q78_sql_subqueries", sqlSubqueriesSql) { (s, d) =>
      // the spark.sql(...) surface with CORRELATED subqueries — EXISTS,
      // NOT EXISTS and two correlated scalar subqueries in one
      // statement; Catalyst decorrelates all four into joins (no
      // per-row re-execution). The SAME SQL text runs in DuckDB as the
      // oracle, so the decorrelation must be semantics-preserving row
      // for row.
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(sqlSubqueriesSql)
    },
    Gate("q81_sql_3way_topk", sql3WayTopkSql) { (s, d) =>
      // TPC-H Q3's shape as ONE shared SQL text both engines run: 3-way
      // customer⋈orders⋈lineitem join under selective filters, grouped
      // revenue, top-k. q78 proved the decorrelation surface; this
      // proves join ordering + selectivity on the classic warehouse
      // shape. PlanSpec guards the plan: customer broadcasts (dimension
      // side), the top-k plans as TakeOrderedAndProject — not a global
      // sort — and the mktsegment filter reaches the parquet scan.
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sql3WayTopkSql)
    },
    Gate("q82_sql_4way_exists", sql4WayExistsSql) { (s, d) =>
      // TPC-H Q21's shape as ONE shared SQL text: a 4-way join
      // (supplier⋈lineitem⋈orders⋈nation) with a correlated EXISTS
      // (another supplier in the same order) AND a correlated NOT EXISTS
      // (…but none of the others flagged 'R') — the hardest decorrelation
      // compose of the q78 family over a real multi-join. Catalyst plans
      // the EXISTS as a left-semi and the NOT EXISTS as a left-anti join,
      // both shuffled on l_orderkey; nation broadcasts.
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      t(s, d, "orders").createOrReplaceTempView("orders")
      t(s, d, "nation").createOrReplaceTempView("nation")
      s.sql(sql4WayExistsSql)
    },
    Gate("q99_asof_forward",
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, ts, event_id AS p_event_id FROM events WHERE event_type = 'purchase'
        |)
        |SELECT event_id, user_id, asof_p_event_id, wait_min FROM (
        |  SELECT c.event_id, c.user_id, p.p_event_id AS asof_p_event_id,
        |    (epoch_us(p.ts) - epoch_us(c.ts)) // 60000000 AS wait_min,
        |    ROW_NUMBER() OVER (PARTITION BY c.event_id
        |      ORDER BY p.ts ASC, p.p_event_id DESC) AS rn
        |  FROM c JOIN p ON p.user_id = c.user_id AND p.ts >= c.ts) t
        |WHERE rn = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      // FORWARD as-of join (pandas merge_asof direction='forward'): the
      // next purchase at or after each click, per user — q31's mirror,
      // same union + ONE window pass (no per-key cross product), frame
      // flipped to [current, following) with first(ignoreNulls). The
      // pair (q31, q99) gates both merge_asof directions.
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"))
      Deltas.asofJoin(clicks, purchases, Seq("user_id"),
          leftTime = "ts", rightTime = "ts",
          payload = Seq("p_event_id", "ts"), tieBreak = Some("p_event_id"),
          direction = "forward")
        .filter(col("asof_p_event_id").isNotNull)
        .withColumn("__wait_us",
          unix_micros(col("asof_ts")) - unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"), col("asof_p_event_id"),
          expr("__wait_us div 60000000").as("wait_min"))
        .orderBy(col("event_id"))
    },
    Gate("q98_theil_sen",
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a.event_type,
        |    CAST(b.x - a.x AS DOUBLE) / CAST(b.h - a.h AS DOUBLE) AS slope
        |  FROM hourly a JOIN hourly b
        |    ON a.event_type = b.event_type AND a.h < b.h
        |), ranked AS (
        |  SELECT event_type, slope,
        |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM pairs
        |)
        |SELECT event_type, n AS n_pairs, ROUND(slope, 4) AS slope_med
        |FROM ranked WHERE rn = (n - 1) // 2 + 1
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      // Theil-Sen robust trend (Theil 1950/Sen 1968): per event type,
      // the LOWER MEDIAN of all pairwise slopes of the hourly
      // integer-cent series — the outlier-proof complement to q56's
      // least-squares trend (one wild hour cannot move it). Each slope
      // is ONE IEEE divide of exact longs; the median is a structural
      // rank-pick at (n−1)/2 over the sorted slopes (deterministic —
      // no averaging, the q55 robust-ops contract). The pair join is
      // per-type (hour-count bounded, independent of corpus size at
      // fixed time range); Robust.theilSen ENFORCES that bound — a
      // per-type series past maxPoints loud-fails instead of silently
      // going O(n²) (window the series upstream, not the corpus).
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000L").as("h"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      graft.ops.Robust.theilSen(hourly, "event_type", "h", "x", maxPoints = 10000)
        .orderBy("event_type")
    },
    Gate("q97_hits", hitsOracleSql) { (s, d) =>
      // HITS hubs & authorities (Kleinberg, JACM'99) on the q50 affine
      // directed graph — 3 UNNORMALIZED mutual-reinforcement rounds:
      // a ← Σ_in h, h ← Σ_out a. Dropping the per-round normalization
      // keeps every score an exact LONG (rankings are invariant — the
      // norm is a positive scalar per round), so the whole result
      // hash-checks with no float contract at all. Two equi-join + agg
      // shuffles per round, map-side combinable, same budget as one
      // PageRank round; top-20 by authority.
      val e = affinePartGraph(s, d)
        .filter(col("src") =!= col("dst")).distinct()
        .localCheckpoint()
      var h = e.select(col("src").as("v")).unionByName(e.select(col("dst").as("v")))
        .distinct().select(col("v"), lit(1L).as("h"))
      var a: DataFrame = null
      (1 to 3).foreach { _ =>
        a = e.join(h.select(col("v").as("src"), col("h")), "src")
          .groupBy(col("dst").as("v")).agg(sum(col("h")).as("a"))
        h = e.join(a.select(col("v").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("v")).agg(sum(col("a")).as("h"))
          .localCheckpoint()
      }
      a.join(h, Seq("v"), "full_outer")
        .select(col("v"), coalesce(col("a"), lit(0L)).as("auth"),
          coalesce(col("h"), lit(0L)).as("hub"))
        .orderBy(col("auth").desc, col("v")).limit(20)
    },
    Gate("q96_autocorrelation",
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), pairs AS (
        |  SELECT event_type, 1 AS lag, x,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY h) AS y FROM hourly
        |  UNION ALL SELECT event_type, 2, x,
        |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY h) FROM hourly
        |  UNION ALL SELECT event_type, 3, x,
        |    lag(x, 3) OVER (PARTITION BY event_type ORDER BY h) FROM hourly
        |), agg AS (
        |  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM pairs WHERE y IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT event_type, lag, n,
        |  ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |      (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4) AS acf
        |FROM agg WHERE n >= 8
        |ORDER BY event_type, lag""".stripMargin) { (s, d) =>
      // autocorrelation function (lags 1-3) of each event type's hourly
      // value series — the time-series seasonality/persistence probe
      // (Box-Jenkins model identification). Values become exact integer
      // CENTS, hours become integer epoch buckets, so every sum is a
      // long and the Pearson r per (type, lag) is ONE pinned IEEE op
      // tree over exact operands + ROUND(,4) — the d64 portability
      // contract. ROW-lag over the observed hourly series (gaps skipped,
      // stated contract; q73 gap-fill is the interpolation op). One
      // keyed agg + one window + one final agg — all map-side
      // combinable, series parallelize per type.
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"),
          // div, not /: Spark's / on longs is a fractional Divide; the
          // epochs are positive so truncating div == DuckDB's floor //
          expr("unix_micros(ts) div 3600000000L").as("h"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val pairs = (1 to 3).map { l =>
        hourly.select(col("event_type"), lit(l).as("lag"), col("x"),
          lag(col("x"), l).over(w).as("y"))
      }.reduce(_ unionByName _).filter(col("y").isNotNull)
      val a = pairs.groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      val nD = col("n").cast("double")
      a.filter(col("n") >= 8)
        .select(col("event_type"), col("lag"), col("n"),
          round((nD * col("sxy") - col("sx").cast("double") * col("sy")) /
            sqrt((nD * col("sxx") - col("sx").cast("double") * col("sx")) *
              (nD * col("syy") - col("sy").cast("double") * col("sy"))), 4)
            .as("acf"))
        .orderBy("event_type", "lag")
    },
    Gate("q95_link_prediction",
      // q94: the day-sliced sweep in closed SQL — same slicing (floor-div
      // day index, clamped segments), same prior-end running max, same
      // int64 contributions
      linkPredictionOracleSql) { (s, d) =>
      // link prediction (Graph.linkPrediction) on the q46/q50 affine-map
      // graph: for every non-edge sharing ≥1 neighbor, common-neighbor
      // count + resource-allocation index (Zhou/Lü/Zhang 2009) in exact
      // 1e-12 fixed-point — the "suggest missing links" primitive of a
      // crawl/citation graph. Wedges generate at the CENTER vertex from
      // its adjacency list (the triangle-count budget Σ deg²), hub
      // fanout loud-fails, one anti-join screens existing edges; all
      // integers, so top-50 hash-checks bit-for-bit.
      graft.ops.Graph.linkPrediction(affinePartGraph(s, d))
        .orderBy(col("cn").desc, col("ra_e12").desc, col("u"), col("v"))
        .limit(50)
    },
    Gate("q94_interval_coverage",
      """WITH iv AS (
        |  SELECT event_type, epoch_us(ts) AS st,
        |    epoch_us(ts) + 60000000 * (event_id % 7 + 1) AS en
        |  FROM events
        |), seg AS (
        |  SELECT event_type, s.s AS slice,
        |    GREATEST(st, s.s * 86400000000) AS st2,
        |    LEAST(en, (s.s + 1) * 86400000000) AS en2
        |  FROM iv, LATERAL (SELECT unnest(range(st // 86400000000,
        |    en // 86400000000 + 1)) AS s) s
        |), sw AS (
        |  SELECT event_type, st2, en2,
        |    MAX(en2) OVER (PARTITION BY event_type, slice
        |      ORDER BY st2, en2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM seg
        |), cov AS (
        |  SELECT event_type,
        |    GREATEST(en2 - GREATEST(st2, COALESCE(pmax, st2)), 0) AS c
        |  FROM sw
        |)
        |SELECT c.event_type, CAST(SUM(c.c) AS BIGINT) AS covered_us,
        |  n.n_intervals
        |FROM cov c
        |JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals
        |      FROM iv GROUP BY 1) n USING (event_type)
        |GROUP BY c.event_type, n.n_intervals
        |ORDER BY c.event_type""".stripMargin) { (s, d) =>
      // INTERVAL-UNION coverage (ops/Intervals.unionCoverage): total
      // covered time of overlapping spans per type — the sweep-line
      // classic, day-SLICED so parallelism is (keys × days), not keys
      // (a per-key-only window serializes months of one key on one
      // task). Spans are events extended by 1..7 minutes; everything is
      // int64 microseconds, so the oracle replays slicing, the prior-end
      // running max, and the clamped contributions exactly.
      val iv = t(s, d, "events").select(col("event_type"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          lit(60000000L) * (col("event_id") % 7 + 1)).as("en"))
      val counts = iv.groupBy("event_type")
        .agg(count(lit(1)).as("n_intervals"))
      graft.ops.Intervals.unionCoverage(iv, Seq("event_type"), "st", "en")
        .join(broadcast(counts), "event_type")
        .orderBy("event_type")
    },
    Gate("q93_sql_within_group", sqlWithinGroupSql) { (s, d) =>
      // ANSI WITHIN GROUP ordered-set aggregates as ONE shared SQL text:
      // percentile_disc picks an actual data value (exact on both
      // engines); percentile_cont interpolates at rank (n−1)·p with
      // ROUND(,2) absorbing the ≤1-ulp divergence (the q33 operator
      // exists; THIS gates the ANSI SQL surface itself).
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlWithinGroupSql)
    },
    Gate("q92_sql_scalar_min", sqlScalarMinSql) { (s, d) =>
      // TPC-H Q2's shape as ONE shared SQL text: a correlated scalar MIN
      // subquery over its own 4-way join, gating the 5-way outer join —
      // the scalar-agg decorrelation surface (q78/q82 covered
      // EXISTS/IN). Catalyst rewrites the inner MIN as an aggregate
      // joined back on p_partkey; nation/region/supplier broadcast.
      t(s, d, "part").createOrReplaceTempView("part")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      t(s, d, "nation").createOrReplaceTempView("nation")
      t(s, d, "region").createOrReplaceTempView("region")
      s.sql(sqlScalarMinSql)
    },
    Gate("q102_seasonal_mase",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), scored AS (
        |  SELECT a.event_type, ABS(a.x - s7.x) AS es, ABS(a.x - n1.x) AS en
        |  FROM daily a
        |  JOIN daily s7 ON s7.event_type = a.event_type
        |    AND a.day = s7.day + INTERVAL 7 DAY
        |  JOIN daily n1 ON n1.event_type = a.event_type
        |    AND a.day = n1.day + INTERVAL 1 DAY
        |)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(es) AS BIGINT) AS sad_seasonal,
        |  CAST(SUM(en) AS BIGINT) AS sad_naive,
        |  ROUND(CAST(SUM(es) AS DOUBLE) / CAST(SUM(en) AS DOUBLE), 4) AS mase
        |FROM scored GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // FORECAST-ACCURACY MONITORING: seasonal-naive forecast (x̂_t =
      // x_{t−7}) vs the naive-1 baseline, scored by MASE (Hyndman &
      // Koehler 2006) per event type over daily integer-cent totals —
      // the standard scale-free accuracy ratio a pipeline-health
      // dashboard tracks. Restricted to days where BOTH lags exist, so
      // numerator and denominator average over the SAME day set and the
      // ratio reduces to one divide of exact longs + ROUND(,4). Two
      // equi-self-joins on (type, day) — no window, no state.
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
        .localCheckpoint() // three aliases of one small aggregate
      val scored = daily.as("a")
        .join(daily.as("s7"),
          col("a.event_type") === col("s7.event_type") &&
            col("a.day") === date_add(col("s7.day"), 7))
        .join(daily.as("n1"),
          col("a.event_type") === col("n1.event_type") &&
            col("a.day") === date_add(col("n1.day"), 1))
        .select(col("a.event_type").as("event_type"),
          abs(col("a.x") - col("s7.x")).as("__es"),
          abs(col("a.x") - col("n1.x")).as("__en"))
      scored.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("__es")).as("sad_seasonal"),
          sum(col("__en")).as("sad_naive"))
        .withColumn("mase",
          round(col("sad_seasonal").cast("double") / col("sad_naive"), 4))
        .orderBy("event_type")
    },
    Gate("q103_sql_volume_shipping", sqlVolumeShippingSql) { (s, d) =>
      // TPC-H Q7's join breadth as ONE shared SQL text: six tables, the
      // symmetric nation-pair OR (which defeats naive single-sided
      // pushdown — Catalyst must keep it as a post-join filter over two
      // broadcast nation joins), a fact date range that must reach the
      // lineitem scan, and a year extract feeding the rollup. The
      // PlanSpec guard pins: dims broadcast, no nested loop, shipdate
      // range pushed to the parquet scan.
      Seq("supplier", "lineitem", "orders", "customer", "nation")
        .foreach(n => t(s, d, n).createOrReplaceTempView(n))
      s.sql(sqlVolumeShippingSql)
    },
    Gate("q104_sql_market_share", sqlMarketShareSql) { (s, d) =>
      // TPC-H Q8's join breadth: EIGHT tables (nation twice), the
      // region+type selective dims gating the fact, and the per-year
      // conditional-share ratio. The join ORDER matters at 100 TB — the
      // region/part filters must reach their scans and every dim side
      // must broadcast; a sort-merge or nested-loop anywhere in this
      // chain is the scale failure the PlanSpec guard pins.
      Seq("part", "lineitem", "orders", "customer", "nation", "region",
        "supplier").foreach(n => t(s, d, n).createOrReplaceTempView(n))
      s.sql(sqlMarketShareSql)
    },
    Gate("q100_sql_scalar_avg", sqlScalarAvgSql) { (s, d) =>
      // TPC-H Q17's shape as ONE shared SQL text: a correlated scalar
      // AVERAGE over the LARGE fact gates the fact scan itself —
      // "lineitems below 20% of their part's average quantity". The
      // avg is spelled as its exact integer cross-multiplication
      // (5·n·qty < sum — two correlated scalar aggs over the same
      // correlated table, no float divide in the predicate), so the
      // hash carries no float contract. Catalyst must decorrelate BOTH
      // scalar subqueries to ONE per-part aggregate equi-joined back
      // (MergeScalarSubqueries + RewriteCorrelatedScalarSubquery) — a
      // nested-loop re-execution per outer row is the O(n²) failure the
      // PlanSpec guard pins. q92 covered scalar MIN over a join chain;
      // this is the scalar-agg-over-the-fact decorrelation q78/q92
      // didn't reach.
      t(s, d, "part").createOrReplaceTempView("part")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlScalarAvgSql)
    },
    Gate("q101_sql_nested_in", sqlNestedInSql) { (s, d) =>
      // TPC-H Q20's shape as ONE shared SQL text: a nested IN chain —
      // suppliers IN (lineitems of parts IN (name-filtered part set)
      // whose quantity clears a correlated per-part MAX threshold).
      // Three nesting levels: IN → IN + correlated scalar agg. Every
      // predicate is exact integer arithmetic. Catalyst must plan the
      // INs as left-semi equi-joins and the scalar MAX as one per-part
      // aggregate join — PlanSpec-guarded against nested loops.
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      t(s, d, "nation").createOrReplaceTempView("nation")
      t(s, d, "part").createOrReplaceTempView("part")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlNestedInSql)
    },
    Gate("q90_recursive_cte", sqlRecursiveCteSql) { (s, d) =>
      // WITH RECURSIVE as ONE shared SQL text (Spark 4's recursive CTE
      // — the iterative-fixpoint SQL surface): walk the implicit binary
      // tree parent(k) = ⌊k/2⌋ from root 1 over supplier and aggregate
      // per depth. Integer-only outputs; the FLOOR(x / 2.0) spelling is
      // the engine-neutral integer halving (bare `/` is float division
      // in DuckDB, `div` isn't Spark-portable). The iterative Graph/
      // Hierarchy operators remain the 100 TB scale path — this gates
      // the declarative surface over the same semantics.
      t(s, d, "supplier").createOrReplaceTempView("supplier")
      s.sql(sqlRecursiveCteSql)
    },
    Gate("q86_sql_setops", sqlSetOpsSql) { (s, d) =>
      // the SQL set-operation surface as ONE shared text both engines
      // run: INTERSECT and EXCEPT (set semantics — Catalyst plans both as
      // left-semi/left-anti over distinct inputs) plus INTERSECT ALL (bag
      // semantics: min multiplicity per value, planned via a row_number
      // rewrite) — three tagged branches UNION ALL'd so one hash pins all
      // three operators' exact contents, duplicates included.
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlSetOpsSql)
    },
    Gate("q87_sql_lateral", sqlLateralSql) { (s, d) =>
      // the LATERAL join surface as ONE shared SQL text: a correlated
      // subquery in FROM computing each customer's top-3 orders by price
      // (ORDER BY … LIMIT inside the lateral — the per-key-top-k idiom a
      // warehouse user writes instead of a window function). Catalyst
      // decorrelates it to a window-ranked join; DuckDB executes the
      // lateral directly — same rows either way.
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql(sqlLateralSql)
    },
    Gate("q77_window_family",
      """SELECT o_custkey, o_orderkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(ntile(4) OVER w AS INT) AS q4,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  lead(o_orderkey, 2, -1) OVER w AS next2_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders WHERE o_custkey <= 300
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      // the rest of the §2.5 window-function family in one gate:
      // percent_rank / cume_dist (exact single-divide rationals —
      // bit-identical across engines), ntile, lag, lead-with-default,
      // nth_value under the default ORDER BY frame, all over the same
      // deterministic (o_custkey, o_orderkey) order.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, d, "orders").filter(col("o_custkey") <= 300)
        .select(col("o_custkey"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(4).over(w).as("q4"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 2, -1L).over(w).as("next2_key"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Gate("q64_unpivot",
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |    l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey % 50 = 0
        |)
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM b
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin) { (s, d) =>
      // UNPIVOT/melt — wide metric columns to long (metric, value) rows,
      // the §2.6 inverse of q34's pivot. Native Dataset.unpivot (Catalyst
      // Expand: one pass, no join, output = rows × metrics); values are
      // verbatim source doubles, so the melt hash-checks exactly.
      t(s, d, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    },
    Gate("q69_scd2", scd2OracleSql) { (s, d) =>
      // SCD TYPE 2 history merge (Cdc.applyChangesetScd2, the
      // history-tracking complement to q43's latest-wins SCD1): base
      // customer balances open at epoch 0, event changes (purchase ⇒
      // delete, else upsert at floor(value*100)) re-version each key —
      // ONE lead window per key builds the whole validity chain, deletes
      // close their predecessor but emit no row. All cells are exact
      // longs (epoch-us, floors), fully hash-checked.
      val base = t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_custkey").as("custkey"),
          floor(col("c_acctbal")).cast("long").as("bal"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      val ev = t(s, d, "events").filter(col("user_id") <= 50)
        .select(col("user_id").as("custkey"),
          floor(col("value") * 100).cast("long").as("bal"),
          unix_micros(col("ts")).as("ts"),
          when(col("event_type") === "purchase", "D").otherwise("U").as("op"),
          col("event_id"))
      val wDedup = Window.partitionBy("custkey", "ts").orderBy(col("event_id").desc)
      val ch = ev.withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn", "event_id")
      graft.ops.Cdc.applyChangesetScd2(base, ch,
          Seq("custkey"), Seq("bal"), "ts", "op")
        .orderBy("custkey", "valid_from")
    },
    Gate("q70_pit_join",
      // q70: interval semantics directly — each fact LEFT JOINs the single
      // version whose [valid_from, valid_to) contains it (deletion gaps and
      // pre-history match nothing -> null), which must equal the Spark
      // as-of-with-tombstones formulation.
      """WITH base AS (
        |  SELECT c_custkey AS custkey, CAST(FLOOR(c_acctbal) AS BIGINT) AS bal,
        |    CAST(0 AS BIGINT) AS ts, 'U' AS op
        |  FROM customer WHERE c_custkey <= 50
        |), ch0 AS (
        |  SELECT user_id AS custkey, CAST(FLOOR(value * 100) AS BIGINT) AS bal,
        |    epoch_us(ts) AS ts,
        |    CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
        |    event_id
        |  FROM events WHERE user_id <= 50 AND event_type IN ('view', 'purchase')
        |), ch AS (
        |  SELECT custkey, bal, ts, op FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey, ts
        |      ORDER BY event_id DESC) AS rn FROM ch0)
        |  WHERE rn = 1
        |), ev AS (
        |  SELECT custkey, bal, ts, op FROM base
        |  UNION ALL SELECT custkey, bal, ts, op FROM ch
        |), vers AS (
        |  SELECT custkey, bal, ts AS valid_from,
        |    LEAD(ts) OVER (PARTITION BY custkey ORDER BY ts) AS valid_to, op
        |  FROM ev
        |), facts AS (
        |  SELECT event_id, user_id AS custkey, epoch_us(ts) AS t_us
        |  FROM events
        |  WHERE user_id <= 50 AND event_type = 'click' AND event_id <= 2000
        |)
        |SELECT f.event_id, f.custkey, f.t_us, v.bal AS bal_at_event
        |FROM facts f LEFT JOIN vers v ON v.custkey = f.custkey AND v.op <> 'D'
        |  AND f.t_us >= v.valid_from
        |  AND (v.valid_to IS NULL OR f.t_us < v.valid_to)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      // POINT-IN-TIME JOIN: facts (click events, first 2000) against the
      // q69 SCD2 dimension — each fact matches the version whose
      // [valid_from, valid_to) interval contains its timestamp, i.e. the
      // as-of operator (Deltas.asofJoin: union + ONE window pass, never a
      // per-key cross product) applied to version rows; the half-open
      // upper bound falls out because a later version always supersedes
      // at its own valid_from. Facts before any version left-join to null.
      val base = t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_custkey").as("custkey"),
          floor(col("c_acctbal")).cast("long").as("bal"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      // changes = views (upsert) + purchases (delete) ONLY; clicks are
      // pure facts, so a click after a purchase and before the next view
      // lands in a real deletion gap and must resolve to null
      val ev = t(s, d, "events")
        .filter(col("user_id") <= 50 &&
          col("event_type").isin("view", "purchase"))
        .select(col("user_id").as("custkey"),
          floor(col("value") * 100).cast("long").as("bal"),
          unix_micros(col("ts")).as("ts"),
          when(col("event_type") === "purchase", "D").otherwise("U").as("op"),
          col("event_id"))
      val wDedup = Window.partitionBy("custkey", "ts").orderBy(col("event_id").desc)
      val ch = ev.withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn", "event_id")
      val dim = graft.ops.Cdc.applyChangesetScd2(base, ch,
          Seq("custkey"), Seq("bal"), "ts", "op")
      val facts = t(s, d, "events")
        .filter(col("user_id") <= 50 && col("event_type") === "click" &&
          col("event_id") <= 2000)
        .select(col("event_id"), col("user_id").as("custkey"),
          unix_micros(col("ts")).as("t_us"))
      // delete tombstones enter the as-of input with null payload so a
      // fact inside a deletion gap resolves to null (true interval
      // semantics), not to the stale pre-delete version
      val lookup = dim.select(col("custkey"), col("valid_from"), col("bal"))
        .unionByName(ch.filter(col("op") === "D")
          .select(col("custkey"), col("ts").as("valid_from"),
            lit(null).cast("long").as("bal")))
      graft.ops.Deltas.asofJoin(facts, lookup,
          Seq("custkey"), leftTime = "t_us", rightTime = "valid_from",
          payload = Seq("bal"))
        .select(col("event_id"), col("custkey"), col("t_us"),
          col("asof_bal").as("bal_at_event"))
        .orderBy("event_id")
    },
    Gate("q75_filter_agg",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
        |  ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS open_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // conditional aggregates via the SQL FILTER clause — one pass, one
      // shuffle, no CASE-WHEN contortions or self-joins: per priority the
      // total count plus status-filtered count and sum (ROUND(,2) per the
      // q61 precedent for totalprice sums).
      t(s, d, "orders").createOrReplaceTempView("__q75_orders")
      s.sql("""
        SELECT o_orderpriority, COUNT(*) AS n,
          COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
          ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS open_total
        FROM __q75_orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
    Gate("q74_not_in_nulls",
      """SELECT variant, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'not_in' AS variant, COUNT(*) AS n FROM customer
        |  WHERE c_custkey NOT IN (
        |    SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0
        |    UNION ALL SELECT CAST(NULL AS BIGINT))
        |  UNION ALL
        |  SELECT 'not_exists', COUNT(*) FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_custkey = c.c_custkey
        |                      AND o.o_orderkey % 3 = 0))
        |ORDER BY variant""".stripMargin) { (s, d) =>
      // the NOT IN null trap, pinned across engines: one NULL in the
      // subquery list makes `x NOT IN (...)` UNKNOWN for every row
      // (count 0), while NOT EXISTS / left-anti keeps the rows a reader
      // expects — both variants in one result so the gate certifies the
      // three-valued-logic behavior AND the correct alternative.
      t(s, d, "orders").createOrReplaceTempView("__q74_orders")
      t(s, d, "customer").createOrReplaceTempView("__q74_cust")
      s.sql("""
        SELECT variant, n FROM (
          SELECT 'not_in' AS variant, COUNT(*) AS n FROM __q74_cust
          WHERE c_custkey NOT IN (
            SELECT o_custkey FROM __q74_orders WHERE o_orderkey % 3 = 0
            UNION ALL SELECT CAST(NULL AS BIGINT))
          UNION ALL
          SELECT 'not_exists', COUNT(*) FROM __q74_cust c
          WHERE NOT EXISTS (SELECT 1 FROM __q74_orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_orderkey % 3 = 0))
        ORDER BY variant""")
    },
    Gate("q72_range_frame",
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS v
        |  FROM events
        |)
        |SELECT event_id, user_id, t_us, v,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_nearby,
        |  CAST(SUM(v) OVER w AS BIGINT) AS sum_nearby
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY t_us
        |  RANGE BETWEEN 3600000000 PRECEDING AND 3600000000 FOLLOWING)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      // value-RANGE window frame (the frame kind q45's ROWS frames don't
      // cover): per event, count and sum of the SAME USER's centi-values
      // within ±1 hour of event time — RANGE BETWEEN interval bounds over
      // the epoch-us long, exact integers end to end.
      val w = Window.partitionBy("user_id").orderBy(col("t_us"))
        .rangeBetween(-3600000000L, 3600000000L)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"),
          floor(col("value") * 100).cast("long").as("v"))
        .withColumn("n_nearby", count(lit(1)).over(w))
        .withColumn("sum_nearby", sum(col("v")).over(w))
        .orderBy("event_id")
    },
    Gate("q73_typed_agg",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_v,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT) * CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_sq
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // typed Aggregator UDAF (ops/TypedAggregators.ExactMoments): exact
      // (n, Σx, Σx²) per event type over integer centi-values — the
      // Dataset-API UDAF surface (case-class buffer + product encoders,
      // registered via functions.udaf), map-side combinable by
      // construction (reduce = partial, merge = combiner).
      val mm = udaf(graft.ops.TypedAggregators.ExactMoments)
      t(s, d, "events")
        .select(col("event_type"), floor(col("value") * 100).cast("long").as("v"))
        .groupBy("event_type")
        .agg(mm(col("v")).as("__m"))
        .select(col("event_type"), col("__m.n").as("n"),
          col("__m.sum").as("sum_v"), col("__m.sumSq").as("sum_sq"))
        .orderBy("event_type")
    },
    Gate("q71_explode_outer",
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> len(t) >= 8) AS fs
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN len(fs) = 0 THEN NULL ELSE CAST(i - 1 AS INT) END AS pos,
        |  CASE WHEN len(fs) = 0 THEN NULL ELSE fs[CAST(i AS INTEGER)] END AS tok
        |FROM d, LATERAL (SELECT unnest(range(1, GREATEST(len(fs), 1) + 1)) AS i) r
        |ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
      // OUTER generator semantics (§2.9's table-function family): docs
      // explode into their long tokens (length >= 8), and posexplode_outer
      // KEEPS docs whose filtered array is empty as one null-pos/null-tok
      // row — the left-join-shaped lateral a plain explode silently drops.
      t(s, d, "documents").select(col("doc_id"),
          posexplode_outer(filter(TextAnalysis.tokens(col("text")),
            t => length(t) >= 8)).as(Seq("pos", "tok")))
        .orderBy("doc_id", "pos")
    },
    Gate("q67_set_ops",
      """WITH urgent AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |), done AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |)
        |SELECT o_custkey, 'both' AS tag FROM (
        |  SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM done)
        |UNION ALL
        |SELECT o_custkey, 'urgent_only' FROM (
        |  SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM done)
        |ORDER BY tag, o_custkey""".stripMargin) { (s, d) =>
      // explicit INTERSECT / EXCEPT — the §2.6 members q24's UNION left
      // implicit: customers with urgent orders ∩/∖ customers with 'F'
      // status orders, tagged and unioned into one result. Both plan as
      // keyed joins (left-semi/left-anti over distinct sets), never a
      // nested loop.
      val o = t(s, d, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val done = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      urgent.intersect(done).withColumn("tag", lit("both"))
        .unionByName(urgent.except(done).withColumn("tag", lit("urgent_only")))
        .orderBy("tag", "o_custkey")
    },
    Gate("q68_ntile",
      """WITH b AS (
        |  SELECT event_id, value,
        |    NTILE(10) OVER (ORDER BY value, event_id) AS decile
        |  FROM events
        |)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(value) AS lo, MAX(value) AS hi
        |FROM b GROUP BY decile ORDER BY decile""".stripMargin) { (s, d) =>
      // equi-DEPTH histogram via ntile(10) over the (value, event_id)
      // TOTAL order (the tie-break makes bucket boundaries deterministic,
      // so the bucket stats hash — lo/hi are verbatim source doubles).
      // The bucket is a PURE FUNCTION of the global rank, so this runs
      // through GlobalRank.withGlobalNtile (range partitions + broadcast
      // offsets + one scalar count) — bit-identical to the window ntile
      // (GlobalRankSpec pins the equivalence incl. the uneven-bucket
      // rule) with NO single-task global sort; the board-wide
      // GlobalWindowGuardSpec exemption is gone.
      graft.ops.GlobalRank.withGlobalNtile(
          t(s, d, "events").select(col("event_id"), col("value")),
          "decile", 10, col("value"), col("event_id"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"),
          max(col("value")).as("hi"))
        .orderBy("decile")
    },
    Gate("q65_histogram",
      """SELECT event_type, CAST(FLOOR(value / 32) AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // exact equi-width histogram (the profiling family next to q42's
      // audit and q40's approx quantiles): DYADIC bin width 32, so
      // value/32 is one exact IEEE divide and floor is exact — bin ids
      // are deterministic integers both engines agree on. One partial-
      // aggregated pass; at 100 TB this is the cheap first look before
      // the exact-percentile machinery.
      t(s, d, "events")
        .select(col("event_type"), floor(col("value") / 32).cast("long").as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    },
    Gate("q44_cube",
      """SELECT CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        |  l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      // CUBE grouping-set rollup with GROUPING disambiguators (the §2.6
      // family's missing multi-set member next to q35's ROLLUP)
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus"))
    },
    Gate("q45_ewma",
      """WITH fr AS (
        |  SELECT event_id,
        |    array_agg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS lst
        |  FROM events
        |)
        |SELECT event_id, list_reduce(lst, (a, x) -> (a + x) / 2) AS ewma
        |FROM fr ORDER BY event_id""".stripMargin) { (s, d) =>
      // exponential moving average over the last 20 events per user, as the
      // EXACT recursion y ← (y + x)/2 folded left over the ordered frame:
      // IEEE adds are exactly rounded and halving is exact, so the fold is
      // bit-identical in any engine that folds the same order — DuckDB
      // list_reduce recomputes it bit for bit (no sum-reorder ULP noise).
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-19, 0)
      t(s, d, "events")
        .withColumn("__lst", collect_list(col("value")).over(w))
        .select(col("event_id"),
          aggregate(slice(col("__lst"), lit(2), size(col("__lst"))),
            element_at(col("__lst"), 1), (a, x) => (a + x) / lit(2)).as("ewma"))
        .orderBy(col("event_id"))
    },
    Gate("q42_quality_audit",
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders),
        |v AS (
        |  SELECT 'date_in_range' AS check_name,
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      o_orderdate >= TIMESTAMP '1992-01-01'
        |      AND o_orderdate < TIMESTAMP '1999-01-01', FALSE)) AS BIGINT) AS n_violations
        |  FROM orders
        |  UNION ALL SELECT 'orderkey_not_null',
        |    CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'orderkey_unique',
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'priority_pattern',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'status_in_domain',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      o_orderstatus IN ('O','F','P'), FALSE)) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'totalprice_positive',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(o_totalprice > 0, FALSE)) AS BIGINT) FROM orders
        |)
        |SELECT check_name, n.c AS n_rows, n_violations, n_violations = 0 AS passed
        |FROM v, n ORDER BY check_name""".stripMargin) { (s, d) =>
      // Deequ-style constraint suite over orders, ONE aggregation pass:
      // row-level expectations fold into the same global agg (map-side
      // partials), uniqueness adds a count_distinct. Report rows are the
      // broadcastable gate a 100 TB pipeline checks before publishing.
      import graft.ops.Audit.{RowCheck, UniqueCheck}
      graft.ops.Audit.audit(t(s, d, "orders"),
        rowChecks = Seq(
          RowCheck("orderkey_not_null", col("o_orderkey").isNotNull),
          RowCheck("totalprice_positive", col("o_totalprice") > 0),
          RowCheck("status_in_domain", col("o_orderstatus").isin("O", "F", "P")),
          RowCheck("date_in_range",
            col("o_orderdate") >= lit("1992-01-01") &&
              col("o_orderdate") < lit("1999-01-01")),
          RowCheck("priority_pattern",
            col("o_orderpriority").rlike("^[1-5]-"))),
        uniqueChecks = Seq(UniqueCheck("orderkey_unique", "o_orderkey")))
        .orderBy(col("check_name"))
    },
    Gate("q41_zorder_stats",
      s"""WITH z AS (
         |  SELECT l_suppkey, l_partkey, l_orderkey, l_linenumber,
         |    ${zInterleaveSql("l_suppkey", "l_partkey", 16)} AS zval
         |  FROM lineitem
         |)
         |SELECT bucket, MIN(l_suppkey) AS x_min, MAX(l_suppkey) AS x_max,
         |  MIN(l_partkey) AS y_min, MAX(l_partkey) AS y_max, COUNT(*) AS n
         |FROM (SELECT *, ntile(16) OVER (
         |        ORDER BY zval, l_orderkey, l_linenumber) AS bucket FROM z)
         |GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      // Z-order data layout, with its pruning evidence in the hash: Morton-
      // interleave (l_suppkey, l_partkey), bucket the z order into 16
      // "files" (exact ntile semantics via GlobalRank — the oracle-stable
      // stand-in for the production
      // repartitionByRange in ZOrder.zOrdered), and emit each bucket's
      // per-dimension min/max — the file-stats table a 2-D predicate scan
      // prunes with. Pure integer bit arithmetic, bit-identical in DuckDB.
      graft.ops.ZOrder.zBucketStats(t(s, d, "lineitem"),
          col("l_suppkey"), col("l_partkey"),
          Seq(col("l_orderkey"), col("l_linenumber")), nBuckets = 16)
        .orderBy(col("bucket"))
    }
  )
}
