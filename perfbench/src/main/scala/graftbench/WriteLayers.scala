package graftbench

import org.apache.spark.sql.SparkSession
import graft.model.{MigrationMetadata, Namespace}
import graft.orchestrate.{MetadataLedger, NamespaceLease}

/** The write-side layers no listed workload's requests touch, timed
  * directly in a traced run so that it reports every layer: `update`,
  * `orchestrate`, `backup` and the writes of `db`. */
object WriteLayers {

  /** Update documents of a twelve-step migration DAG over orders,
    * lineitem and events, with the table each one rewrites. */
  val Updates: Seq[(String, Map[String, Any])] = Seq(
    "orders" -> Map("$set" -> Map("o_orderpriority" -> "1-URGENT")),
    "orders" -> Map("$push" -> Map("o_tags" -> "audit")),
    "orders" -> Map("$inc" -> Map("o_totalprice" -> 100.0)),
    "orders" -> Map("$set" -> Map("o_orderstatus" -> "C"),
      "$unset" -> Map("o_tags" -> "")),
    "lineitem" -> Map("$set" -> Map("l_linestatus" -> "X")),
    "lineitem" -> Map("$unset" -> Map("l_tax" -> "")),
    "lineitem" -> Map("$inc" -> Map("l_quantity" -> 1.0)),
    "events" -> Map("$set" -> Map("value" -> 0.0)),
    "events" -> Map("$rename" -> Map("props" -> "props_archived")),
    "events" -> Map("$set" -> Map("event_type" -> "click_top")))

  /** Migration ids of that DAG: one per update document, plus one
    * manual and one stream migration. */
  val MigrationIds: Seq[String] =
    Updates.indices.map(i => s"m$i") ++ Seq("m_manual", "m_stream")

  val outViews: Seq[Map[String, Any]] = Seq(
    Map("$match" -> Map("event_type" -> "view")),
    Map("$group" -> Map("_id" -> "$user_id", "views" -> Map("$sum" -> 1))),
    Map("$out" -> "user_stats"))

  val mergeBuys: Seq[Map[String, Any]] = Seq(
    Map("$match" -> Map("event_type" -> "buy")),
    Map("$group" -> Map("_id" -> "$user_id", "views" -> Map("$sum" -> 1))),
    Map("$merge" -> Map("into" -> "user_stats", "on" -> "_id",
      "whenMatched" -> "replace", "whenNotMatched" -> "insert")))

  /** Times each layer on the tables under `root`, writing only under
    * `scratch`: every update document compiled against its table, the
    * ledger's record and dependency gate on a ledger of the DAG's size,
    * a namespace lease taken and released, `Backup.collection` of
    * orders, and `insert`/`$out`/`$merge` into a scratch database. */
  def replay(spark: SparkSession, tr: Trace, root: String,
      scratch: String): Unit = {
    def time(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      tr.record(name, (System.nanoTime() - t0) / 1e6)
    }
    def table(t: String) = spark.read.parquet(s"$root/$t.parquet")
    Updates.foreach { case (t, update) =>
      val df = table(t)
      time("update.compile_ms")(graft.update.UpdateCompiler.compile(update)(df))
    }
    val ledger = new MetadataLedger(spark, s"$scratch/ledger")
    MigrationIds.init.foreach(id =>
      ledger.record(MigrationMetadata(id, id, false, true)))
    val last = MigrationIds.last
    (1 to 3).foreach(_ => time("orchestrate.ledger_ms") {
      ledger.record(MigrationMetadata(last, last, false, true))
      ledger.satisfied(last)
    })
    val lease = new NamespaceLease(spark, scratch, "perfbench")
    val ns = Namespace("bench", "orders")
    (1 to 5).foreach(_ => time("orchestrate.lease_ms") {
      lease.acquire(ns); lease.release(ns)
    })
    (1 to 3).foreach(i => time("backup.collection_ms")(
      graft.backup.Backup.collection(spark,
        graft.sources.Tables.load(spark, s"$root/orders.parquet"),
        s"$scratch/backup/orders-$i")))
    val d = new graft.db.GraftSession(spark, scratch).db("bench")
    time("db.write_ms")(d.c("events").insert(table("events")))
    time("db.write_ms")(d.c("events").pipe(outViews))
    time("db.write_ms")(d.c("events").pipe(mergeBuys))
  }
}
