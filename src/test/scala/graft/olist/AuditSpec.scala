package graft.olist

/** Audit events are single-row parquet files published atomically: every
  * column survives the driver-side writer as `runSummary` reads it, and
  * a half-written (hidden temp) file is never read. */
class AuditSpec extends SparkTestBase {

  test("FAILED events round-trip all 9 columns, whatever the error message") {
    val wh = tempDir("audit-rt")
    val audit = new Audit(spark, wh)
    val messages = Seq(null, "line one\nline two\r\n\tline three", "falha: ação inválida — 注文 ✗")
    val before = System.currentTimeMillis()
    val runs = messages.zipWithIndex.map { case (msg, i) =>
      val id = audit.started("csv", s"obj$i", "silver", s"table$i")
      audit.failed(id, "csv", s"obj$i", "silver", s"table$i", msg)
      id -> msg
    }
    val after = System.currentTimeMillis()
    val summary = audit.runSummary()
    assert(summary.columns.toSeq == Seq("run_id", "source_system", "source_object",
      "target_schema", "target_table", "status", "rows_inserted", "error_message", "logged_at"))
    val rows = summary.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.size == messages.size)
    runs.zipWithIndex.foreach { case ((id, msg), i) =>
      val r = rows(id)
      assert(r.getString(1) == "csv")
      assert(r.getString(2) == s"obj$i")
      assert(r.getString(3) == "silver")
      assert(r.getString(4) == s"table$i")
      assert(r.getString(5) == "FAILED")
      assert(r.getLong(6) == -1L)
      assert(r.getString(7) == msg)
      val loggedAt = r.getTimestamp(8).getTime
      assert(loggedAt >= before && loggedAt <= after, s"logged_at $loggedAt outside [$before, $after]")
    }
  }

  test("a stray hidden temp file in the audit directory is ignored") {
    val wh = tempDir("audit-tmp")
    val audit = new Audit(spark, wh)
    val id = audit.started("csv", "x", "bronze", "x")
    // what an interrupted event write leaves behind: a hidden partial file
    writeFile(s"$wh/audit/ingestion_run", ".part-interrupted.snappy.parquet.tmp", "PAR1 truncated")
    audit.succeeded(id, "csv", "x", "bronze", "x", 3L)
    val summary = audit.runSummary().collect()
    assert(summary.length == 1)
    assert(summary.head.getAs[String]("status") == "SUCCESS")
    assert(summary.head.getAs[Long]("rows_inserted") == 3L)
  }
}
