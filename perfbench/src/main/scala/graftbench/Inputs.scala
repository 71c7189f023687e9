package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.sources.Pages
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded pages table: the engine's own synthetic generator (every
  * planted anomaly intact) with seed-derived page keys and row order, so two
  * seeds give two different tables of the same shape. Duplicate pages keep
  * sharing one key, since the key derives from the page id alone. */
object Inputs {
  def pages(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame = {
    val pageId = substring_index(col("url"), "/p/", -1)
    Pages.generate(spark, n, numPartitions = parts)
      .withColumn("url", concat(substring_index(col("url"), "/p/", 1), lit("/p/"),
        lower(hex(xxhash64(pageId, lit(seed))))))
      .withColumn("html", to_binary(md5(concat(lit("html|"), col("url"))), lit("hex")))
      .orderBy(xxhash64(col("url"), lit(seed)))
  }
}

/** The correctness gate of the two suite workloads. The checks with a
  * closed-form answer are recomputed with plain Spark SQL on the stored
  * table; the planted anomalies must be flagged wherever their sample is
  * large enough to show. KLL quantile statistics are not compared: their
  * sketch compaction is randomized, so two runs differ in those rows. */
object Gate {
  /** A planted effect is asserted only on groups at least this large. */
  val PlantedMinRows = 150

  private def str(r: Row, c: String): String = Option(r.getAs[Any](c)).map(_.toString).orNull

  /** @param units for the resumable run: unit column, unit count and the
    *              committed units; the expectations cover those units only */
  def suite(spark: SparkSession, path: String, rows: Array[Row],
      units: Option[(String, Int, Set[String])]): Map[String, Any] = {
    val all = spark.read.parquet(path)
    val pages = units match {
      case None => all
      case Some((c, k, committed)) =>
        all.withColumn(c, pmod(xxhash64(col("url")), lit(k)).cast("string"))
          .filter(col(c).isin(committed.toSeq: _*))
    }
    pages.createOrReplaceTempView("gate_pages")
    Pages.hosts(spark).createOrReplaceTempView("gate_hosts")
    val unitCol = units.map(_._1).getOrElse("'all'")
    def sql(q: String): Array[Row] = spark.sql(q).collect()

    val verdicts = rows.filter(str(_, "kind") == "verdict")
    val violations = rows.filter(str(_, "kind") == "violation")
    def verdictsOf(id: String) = verdicts.filter(str(_, "check_id") == id)
    def keys(id: String, withObserved: Boolean): Seq[String] =
      violations.filter(str(_, "check_id") == id)
        .map(r => if (withObserved) s"${str(r, "key")}=${str(r, "observed")}" else str(r, "key"))
        .toSeq.sorted
    def statSum(id: String): Double =
      verdictsOf(id).map(r => Option(r.getAs[java.lang.Double]("stat")).map(_.doubleValue).getOrElse(0.0)).sum

    val mismatches = ArrayBuffer.empty[String]
    var checked = 0
    def expect(what: String, engine: Any, want: Any): Unit = {
      checked += 1
      if (engine != want) {
        val show = (v: Any) => v.toString.take(300)
        mismatches += s"$what: engine=${show(engine)} expected=${show(want)}"
      }
    }

    val dups = sql("SELECT url, count(*) AS n FROM gate_pages GROUP BY url HAVING count(*) > 1")
    expect("unique_url violations", keys("unique_url", withObserved = true),
      dups.map(r => s"${r.getString(0)}=${r.getLong(1)}").toSeq.sorted)
    expect("unique_url extra rows", statSum("unique_url"), dups.map(_.getLong(1) - 1).sum.toDouble)

    val orphans = sql("SELECT url, host_id FROM gate_pages " +
      "WHERE host_id NOT IN (SELECT host_id FROM gate_hosts)")
    expect("host_registered violations", keys("host_registered", withObserved = true),
      orphans.map(r => s"${r.getString(0)}=${r.get(1)}").toSeq.sorted)
    expect("host_registered orphan rows", statSum("host_registered"), orphans.length.toDouble)

    val divergent = sql("SELECT url FROM gate_pages GROUP BY url " +
      "HAVING count(DISTINCT sha2(text, 256)) > 1")
    expect("text_bytes violations", keys("text_bytes", withObserved = false),
      divergent.map(_.getString(0)).toSeq.sorted)
    expect("text_bytes divergent keys", statSum("text_bytes"), divergent.length.toDouble)

    // planted: host 3's scores snap to tenths digit 5 (digit-preference GOF)
    val host3 = sql(s"SELECT count(*) FROM gate_pages WHERE host_id = 3 GROUP BY $unitCol " +
      s"HAVING count(*) >= $PlantedMinRows").length
    val host3Flags = verdictsOf("score_digits").count(r =>
      str(r, "partition") == "panel=_ALL_/grp=3" && str(r, "metric") == "digit_gof_chisq" &&
        !r.getAs[Boolean]("pass"))
    expect("score_digits host 3 flagged (groups)", host3Flags >= host3 && host3 > 0, true)

    // planted: the 2023 Q3 / host bucket 1 panel shifts its language mix
    val panel = sql(s"SELECT count(*) FROM gate_pages WHERE host_bucket = 1 AND " +
      s"year(warc_ts) = 2023 AND quarter(warc_ts) = 3 GROUP BY $unitCol " +
      s"HAVING count(*) >= $PlantedMinRows").length
    val panelFlags = verdictsOf("lang_consistency").count(r =>
      str(r, "partition") == s"panel=${Pages.PlantedQuarter}/grp=${Pages.PlantedHostBucket}" &&
        !r.getAs[Boolean]("pass"))
    expect("lang_consistency planted panel flagged (groups)", panelFlags >= panel && panel > 0, true)

    Map("checked" -> checked, "mismatches" -> mismatches.toSeq)
  }

  /** Verdict rows present in one output but not the other (multiset). */
  def verdictRowDiff(a: Array[Row], b: Array[Row]): Int = {
    def bag(rows: Array[Row]) = rows.filter(str(_, "kind") == "verdict")
      .groupBy(_.toString).view.mapValues(_.length).toMap
    val (x, y) = (bag(a), bag(b))
    (x.keySet ++ y.keySet).toSeq.map(k => math.abs(x.getOrElse(k, 0) - y.getOrElse(k, 0))).sum
  }
}
