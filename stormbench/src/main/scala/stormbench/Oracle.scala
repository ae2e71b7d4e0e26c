package stormbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/**
 * Checks one forecast's published views against values the benchmark works
 * out on its own, without the program's code:
 *  - the file set is exactly view directories x thresholds x admin levels;
 *  - every tile appears once per threshold, and its member count matches
 *    exact box-overlap arithmetic on the envelopes (edges that touch
 *    intersect), with probability = count / 51;
 *  - per threshold, every admin level's `E_population` sum equals the tile
 *    sum within a relative error of 1e-6.
 * The views are read as plain text, not through the engine under test.
 */
final class Oracle(in: StormInputs, root: Path) {
  import in.shape._
  private val zoom = Tiles.Zoom
  private val kinds = in.shape.facilities.map(_._1)

  def prefix(forecast: Int): String = s"${in.country}_${in.storm}_${in.date(forecast)}_"
  private def report(forecast: Int): String = s"reports_json/${prefix(forecast).stripSuffix("_")}.json"

  def expectedFiles(forecast: Int): Set[String] = {
    val p = prefix(forecast)
    val th = in.thresholds
    (th.map(t => s"mercator_impact_views/$p${t}_$zoom.csv") :+ s"mercator_impact_views/$p${zoom}_cci.csv") ++
      levels.flatMap(l => th.map(t => s"admin_impact_views/$p${t}_admin$l.csv") :+
        s"admin_impact_views/${p}admin${l}_cci.csv") ++
      kinds.flatMap(k => th.map(t => s"${k}_views/$p$t.parquet")) ++
      Seq(s"track_views/${p}tracks.parquet", report(forecast))
  }.toSet

  /** Every store entry that belongs to the forecast. */
  def publishedFiles(forecast: Int): Set[String] = {
    val p = prefix(forecast)
    Oracle.ViewDirs.flatMap { d =>
      val dir = root.resolve(d)
      if (!Files.isDirectory(dir)) Nil
      else Files.list(dir).iterator().asScala.map(n => s"$d/${n.getFileName}")
        .filter(rel => rel.startsWith(s"$d/$p") || rel == report(forecast)).toSeq
    }.toSet
  }

  /** (zone_id -> (n_members, probability)) rows, the `E_population` sum and
    * the row count of one CSV view. */
  private def readCsv(rel: String): (Seq[(String, Int, Double)], Double, Long) = {
    val lines = Files.readAllLines(root.resolve(rel)).asScala
    val header = lines.head.split(",", -1)
    val Seq(iz, in_, ip, ie) = Seq("zone_id", "n_members", "probability", "E_population").map(c => header.indexOf(c))
    val fields = lines.iterator.drop(1).map(_.split(",", -1)).toSeq
    val sum = fields.map(f => if (f(ie).isEmpty) 0.0 else f(ie).toDouble).sum
    val rows = if (iz < 0) Nil else fields.map(f => (f(iz), f(in_).toInt, f(ip).toDouble))
    (rows, sum, fields.size.toLong)
  }

  def check(forecast: Int): Seq[String] = {
    val misses = Seq.newBuilder[String]
    val expected = expectedFiles(forecast)
    val published = publishedFiles(forecast)
    if (expected != published)
      misses += s"file set differs: missing ${(expected -- published).toSeq.sorted.take(5)}, " +
        s"unexpected ${(published -- expected).toSeq.sorted.take(5)}"

    val envs = in.envelopeRows(forecast).map { case (_, th, wkb) =>
      val e = Wkb.read(wkb).getEnvelopeInternal
      (th, e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }
    def expectedCount(qk: String, t: Int): Int = {
      val (tx, ty) = Tiles.decode(qk)
      val (x0, y0, x1, y1) = (Tiles.lonOf(tx), Tiles.latOf(ty + 1), Tiles.lonOf(tx + 1), Tiles.latOf(ty))
      envs.count { case (th, ex0, ey0, ex1, ey1) =>
        th == t && x0 <= ex1 && ex0 <= x1 && y0 <= ey1 && ey0 <= y1
      }
    }
    val p = prefix(forecast)
    in.thresholds.foreach { t =>
      val rel = s"mercator_impact_views/$p${t}_$zoom.csv"
      if (Files.exists(root.resolve(rel))) {
        val (rows, tileSum, nRows) = readCsv(rel)
        val tiles = rows.map(_._1).toSet
        if (nRows != nx.toLong * ny || tiles.size != nRows)
          misses += s"$rel: $nRows rows over ${tiles.size} tiles, expected ${nx.toLong * ny} tiles once each"
        rows.foreach { case (qk, n, prob) =>
          val want = expectedCount(qk, t)
          if (n != want || math.abs(prob - want / 51.0) > 1e-12)
            misses += s"$rel: tile $qk has $n members (p=$prob), expected $want"
        }
        levels.foreach { l =>
          val arel = s"admin_impact_views/$p${t}_admin$l.csv"
          if (Files.exists(root.resolve(arel))) {
            val adminSum = readCsv(arel)._2
            if (math.abs(adminSum - tileSum) > 1e-6 * math.max(1.0, math.abs(tileSum)))
              misses += s"$arel: E_population sum $adminSum, tile sum $tileSum"
          }
        }
      }
    }
    misses.result().take(20)
  }

  /** Add one member to the first tile of a forecast's first tile view: a
    * wrong answer the oracle must catch (used by the self-test). */
  def tamper(forecast: Int): Unit = {
    val path = root.resolve(s"mercator_impact_views/${prefix(forecast)}${in.thresholds.head}_$zoom.csv")
    val lines = Files.readAllLines(path).asScala.toIndexedSeq
    val in_ = lines.head.split(",", -1).indexOf("n_members")
    val f = lines(1).split(",", -1)
    f(in_) = (f(in_).toInt + 1).toString
    Files.write(path, (lines.updated(1, f.mkString(",")) :+ "").mkString("\n").getBytes("UTF-8"))
  }

  /** Files and bytes the forecast published. */
  def footprint(forecast: Int): (Long, Long) = {
    val files = publishedFiles(forecast).toSeq.flatMap { rel =>
      Files.walk(root.resolve(rel)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    }
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Delete a checked forecast's views so the store stays the same size
    * along the chain; its report stays for the next forecast's diff. */
  def retire(forecast: Int): Unit = {
    publishedFiles(forecast).filterNot(_ == report(forecast)).foreach(r => Oracle.delete(root.resolve(r)))
    if (forecast > 0) Oracle.delete(root.resolve(report(forecast - 1)))
  }
}

object Oracle {
  val ViewDirs = Seq("school_views", "hc_views", "shelter_views", "wash_views",
    "mercator_impact_views", "admin_impact_views", "track_views", "reports_json")

  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
}
