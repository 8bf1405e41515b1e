package graft

/** Minimal SQL entry point: runs each argument as a SQL statement against a
  * local session with all graft functions registered and the testdata tables
  * (from SPARK_GRAFT_SF_DIR, default sf0.001) available as temp views.
  *
  * {{{ sbt 'runMain graft.Sql "SELECT quadbin_from_lonlat(-3.7, 40.4, 10)"' }}}
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SessionDefaults.session("graft-sql")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[sql] view $t not registered: $e") }
    }
    try Tables.events(spark, sfDir).createOrReplaceTempView("events")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[sql] view events not registered: $e") }
    args.foreach { sql =>
      spark.sql(sql).show(100, truncate = false)
    }
    spark.stop()
  }
}
