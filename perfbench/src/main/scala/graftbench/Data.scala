package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same inputs; the
  * engine sees only the written parquet tables. Values come from
  * `xxhash64(row id, seed, salt)`, so they do not depend on how Spark
  * splits the work. */
object Data {

  /** Uniform in [0, 1) for row id `id`, keyed by seed and salt. */
  def u(id: Column, seed: Long, salt: Int): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(1000003L))
      .cast("double") / 1000003.0

  /** Integer in [0, n) keyed like [[u]]. */
  def ui(id: Column, seed: Long, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(n))

  private def pick(id: Column, seed: Long, salt: Int, xs: Seq[String])
      : Column =
    element_at(typedlit(xs), (ui(id, seed, salt, xs.size) + 1).cast("int"))

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val Colors = Seq("almond", "azure", "blue", "green", "ivory", "khaki",
    "lemon", "navy", "olive", "plum", "red", "steel", "tan", "white")
  val Tags = Seq("gift", "rush", "bulk", "promo", "repeat", "fragile")
  val EventTypes = Seq("view", "click", "cart", "buy", "refund")

  /** Row counts of the order-entry tables at scale factor `sf`; sf 0.1
    * matches the engine's fixture scale (150k orders, 600k lines). */
  final case class Sizes(sf: Double) {
    private def n(at01: Long) = math.max(10L, (at01 * sf / 0.1).toLong)
    val customer = n(15000); val part = n(20000); val orders = n(150000)
    val lineitem = orders * 4; val events = n(100000)
  }

  /** Writes customer, part, orders, lineitem and events under `dir`;
    * returns each table's row count. */
  def orderTables(spark: SparkSession, dir: String, seed: Long,
      sf: Double, parts: Int): Map[String, Long] = {
    val sz = Sizes(sf)
    val day0 = lit("1992-01-01 00:00:00").cast("timestamp")
    def secs(c: Column) = timestamp_seconds(unix_timestamp(day0) + c)
    val id = col("id")
    val customer = spark.range(1, sz.customer + 1, 1, parts).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(id, seed, 1, 25).cast("int").as("c_nationkey"),
      round(u(id, seed, 2) * 10999 - 999, 2).as("c_acctbal"),
      // mixed case so collation-insensitive lookups have work to do
      when(u(id, seed, 4) < 0.5, lower(pick(id, seed, 3, Segments)))
        .otherwise(pick(id, seed, 3, Segments)).as("c_mktsegment"))
    val part = spark.range(1, sz.part + 1, 1, parts).select(
      id.as("p_partkey"),
      concat_ws(" ", pick(id, seed, 1, Colors), pick(id, seed, 2, Colors),
        pick(id, seed, 3, Colors)).as("p_name"),
      format_string("Brand#%d%d", ui(id, seed, 4, 5) + 1,
        ui(id, seed, 5, 5) + 1).as("p_brand"),
      pick(id, seed, 6, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE",
        "ECONOMY", "PROMO")).as("p_type"),
      (ui(id, seed, 7, 50) + 1).cast("int").as("p_size"),
      round(u(id, seed, 8) * 1100 + 900, 2).as("p_retailprice"))
    val orders = spark.range(1, sz.orders + 1, 1, parts).select(
      id.as("o_orderkey"),
      (ui(id, seed, 1, sz.customer) + 1).as("o_custkey"),
      pick(id, seed, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(id, seed, 3) * 450000 + 1000, 2).as("o_totalprice"),
      secs(ui(id, seed, 4, 2400L * 86400)).as("o_orderdate"),
      pick(id, seed, 5, Priorities).as("o_orderpriority"),
      slice(shuffle(typedlit(Tags), lit(seed)), lit(1),
        ui(id, seed, 6, 4).cast("int")).as("o_tags"),
      transform(sequence(lit(1), (ui(id, seed, 7, 4) + 2).cast("int")),
        k => ui(id * 10 + k, seed, 8, 101).cast("int")).as("o_scores"))
    val lineitem = spark.range(0, sz.lineitem, 1, parts).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (ui(id, seed, 1, sz.part) + 1).as("l_partkey"),
      (ui(id, seed, 2, 1000) + 1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (ui(id, seed, 3, 50) + 1).cast("double").as("l_quantity"),
      round(u(id, seed, 4) * 100000 + 900, 2).as("l_extendedprice"),
      (ui(id, seed, 5, 11) / 100.0).as("l_discount"),
      (ui(id, seed, 6, 9) / 100.0).as("l_tax"),
      pick(id, seed, 7, Seq("R", "A", "N")).as("l_returnflag"),
      pick(id, seed, 8, Seq("O", "F")).as("l_linestatus"),
      secs(ui(id, seed, 9, 2500L * 86400)).as("l_shipdate"))
    val events = spark.range(1, sz.events + 1, 1, parts).select(
      id.as("event_id"),
      secs(ui(id, seed, 1, 30L * 86400)).as("ts"),
      (ui(id, seed, 2, 5000) + 1).as("user_id"),
      pick(id, seed, 3, EventTypes).as("event_type"),
      round(u(id, seed, 4) * 500, 2).as("value"),
      format_string("{\"page\": %d}", ui(id, seed, 5, 300)).as("props"))
    val tables = Seq("customer" -> customer, "part" -> part,
      "orders" -> orders, "lineitem" -> lineitem, "events" -> events)
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    Map("customer" -> sz.customer, "part" -> sz.part,
      "orders" -> sz.orders, "lineitem" -> sz.lineitem,
      "events" -> sz.events)
  }

  // ---- curation corpus ----

  val EnWords = Seq("data", "model", "stream", "table", "query", "index",
    "vector", "batch", "spark", "record", "value", "field", "store",
    "engine", "cluster", "window", "filter", "merge", "column", "schema",
    "token", "corpus", "page", "crawl", "signal", "metric", "layer")
  val EnMarkers = Seq("the", "and", "of", "to", "a", "in", "is", "it")
  val DeWords = Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu",
    "daten", "tabelle", "strom", "wert")

  /** A planted duplicate: `dup` copies `base` exactly (text, or vector
    * up to noise) or as a near copy. */
  final case class Planted(base: Long, dup: Long, exact: Boolean)

  /** The curation corpus: `drops` parquet drops of `perDrop` pages each,
    * ids increasing across drops, and the planted text duplicate pairs.
    * Text and vector duplicate groups hold at most `maxGroup` pages. */
  final case class Corpus(dropDirs: Seq[String], textDups: Seq[Planted])

  val Dim = 64

  def corpus(spark: SparkSession, dir: String, seed: Long, drops: Int,
      perDrop: Int, maxGroup: Int = 4): Corpus = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val n = drops * perDrop
    val texts = new Array[String](n)
    val urls = new Array[String](n)
    val vecs = Array.ofDim[Float](n, Dim)
    val textGroups = new Groups(maxGroup)
    val vecGroups = new Groups(maxGroup)
    def freshText(): String = {
      val en = rnd.nextDouble() < 0.9
      val len = 40 + rnd.nextInt(50)
      (0 until len).map { _ =>
        if (en) {
          if (rnd.nextDouble() < 0.35) EnMarkers(rnd.nextInt(EnMarkers.size))
          else EnWords(rnd.nextInt(EnWords.size)) + rnd.nextInt(40)
        } else DeWords(rnd.nextInt(DeWords.size))
      }.mkString(" ")
    }
    def unit(v: Array[Float]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / norm)
    }
    for (i <- 0 until n) {
      val id = i.toLong
      val base = if (i < 10) 0L else rnd.nextInt(i).toLong
      val r = rnd.nextDouble()
      texts(i) =
        if (i >= 10 && r < 0.04)
          textGroups.join(base, id).map(root => texts(root.toInt))
            .getOrElse(freshText())
        else if (i >= 10 && r < 0.08 && textGroups.pair(base, id)) {
          val toks = texts(base.toInt).split(" ")
          toks(toks.length - 1) = "changed" + rnd.nextInt(1000)
          toks.mkString(" ")
        } else freshText()
      // re-fetches: 5% of pages reuse an earlier page's URL in another
      // spelling, so the canonical-URL dedup drops them
      urls(i) =
        if (i >= 10 && rnd.nextDouble() < 0.05)
          urls(rnd.nextInt(i)).replace("https://", "https://WWW.") +
            "?utm_source=feed"
        else s"https://site${rnd.nextInt(50)}.example.org/p/$id/"
      val vbase = if (i < 10) 0L else rnd.nextInt(i).toLong
      vecs(i) =
        if (i >= 10 && rnd.nextDouble() < 0.08)
          vecGroups.join(vbase, id).map(root => unit(vecs(root.toInt)
            .map(x => x + (rnd.nextGaussian() * 0.01).toFloat)))
            .getOrElse(unit(Array.fill(Dim)(rnd.nextGaussian().toFloat)))
        else unit(Array.fill(Dim)(rnd.nextGaussian().toFloat))
    }
    val dropDirs = (0 until drops).map { d =>
      val rows = (d * perDrop until (d + 1) * perDrop).map { i =>
        val t = texts(i)
        (i.toLong, urls(i),
          s"<html><head><style>p{margin:0}</style>" +
            s"<script>var id=$i;</script></head><body><h1>Page</h1>" +
            s"<p>$t</p><!-- footer --></body></html>",
          t, vecs(i).toSeq, ((i.toLong * 37) % 101))
      }
      val path = s"$dir/drop=$d"
      rows.toDF("doc_id", "url", "html", "text", "embedding", "quality")
        .coalesce(1).write.mode("overwrite").parquet(path)
      path
    }
    Corpus(dropDirs, textGroups.planted)
  }

  /** Duplicate groups of at most `max` members, each keyed by its first
    * (root) member. An exact group copies its root; a near pair is a
    * closed group of two. */
  final class Groups(max: Int) {
    private val root = scala.collection.mutable.Map.empty[Long, Long]
    private val members = scala.collection.mutable.LinkedHashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    private val near = scala.collection.mutable.Set.empty[Long]

    /** Adds `id` to the exact group of `base`; the group's root. */
    def join(base: Long, id: Long): Option[Long] = {
      val r = root.getOrElse(base, base)
      val m = members.getOrElseUpdate(r,
        scala.collection.mutable.ArrayBuffer(r))
      if (near(r) || m.size >= max) None
      else { m += id; root(base) = r; root(id) = r; Some(r) }
    }

    /** Makes `id` a near copy of `base` when `base` is in no group. */
    def pair(base: Long, id: Long): Boolean =
      if (root.contains(base) || members.contains(base)) false
      else {
        root(base) = base; root(id) = base; near += base
        members(base) = scala.collection.mutable.ArrayBuffer(base, id)
        true
      }

    def planted: Seq[Planted] = members.toSeq.flatMap { case (r, m) =>
      if (near(r)) Seq(Planted(m(0), m(1), exact = false))
      else for (a <- m.toSeq; b <- m.toSeq if a < b)
        yield Planted(a, b, exact = true)
    }
  }

  /** Bench vectors for decontamination: random unit vectors, some of
    * which corpus pages sit close to. */
  def benchVectors(spark: SparkSession, seed: Long, k: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed ^ 0x5bd1e995L)
    (0 until k).map { i =>
      val v = Array.fill(Dim)(rnd.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x * x).sum).toFloat
      (i.toLong, v.map(_ / norm).toSeq)
    }.toDF("bench_id", "embedding")
  }
}
