package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Runs a validation corpus against the warehouse built from the demo
  * fixtures — the full `validate_data_quality` path
  * (main_etl_pipeline.py:797-870).
  *
  * The in-repo corpus (`validation_demo.sql`) drives every construct of
  * the [[ValidationCorpus]] dialect shim, and its outcome is derived by
  * hand from `Pipeline.demoInputs`: 6 users (mendeley ids 1 and 3 and
  * the first gym row resolve to one profile; 2 fitbit ids), so 6
  * snapshots; 3 workout sessions (the fourth activity row has no active
  * minutes); hourly calories 78, 52 and 120, so exactly one user-hour
  * above the corpus's cap of 100.
  *
  * The reference's REAL validation.sql (461 lines) runs too where it
  * is present; those tests cancel, like their siblings, where it is
  * not. */
class ValidationCorpusSpec extends SparkSpec {

  private val scriptPath = "/root/reference/validation.sql"

  private def script: String = {
    assume(new java.io.File(scriptPath).exists(),
      s"reference corpus not present: $scriptPath")
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(scriptPath)))
  }

  private lazy val demoScript = scala.io.Source.fromInputStream(
    getClass.getResourceAsStream("/validation_demo.sql"), "UTF-8").mkString

  private lazy val tables =
    Pipeline.run(spark, Pipeline.demoInputs(spark), None).tables

  /** The demo warehouse with snapshot and session users repointed to a
    * user key no dimension row has. */
  private def withOrphans(ts: Seq[(String, DataFrame)]) = ts.map {
    case ("fact_usersnapshot", df) =>
      "fact_usersnapshot" -> df.withColumn("user_key", lit(999999))
    case ("fact_workoutsession", df) =>
      "fact_workoutsession" -> df.withColumn("user_key", lit(999999))
    case other => other
  }

  test("in-repo corpus: every shim construct executes; scored by hand") {
    val stmts = SqlRunner.parse(demoScript)
    assert(stmts.size == 18, s"got ${stmts.size}")
    assert(stmts.count(_.toUpperCase.startsWith("SET @")) == 3)
    val out = ValidationCorpus.run(spark, demoScript, tables)
    assert(out.failed.isEmpty,
      out.failed.map { case (s, e) => s"$s => $e" }.mkString("\n"))
    assert(out.executed == 18)
    // the one user-hour above @HOURLY_CAP is a warning (-1); every
    // other check, the ordered GROUP_CONCAT's value among them, is clean
    assert(out.score == 99.0)
    assert(out.issues.isEmpty)
    assert(out.warnings == Seq("RANGE fact_hourlyactivity.Calories: 1"))
    assert(out.tableCounts.size == 19)
    assert(out.tableCounts("dim_user") == 6L)
    assert(out.tableCounts("fact_workoutsession") == 3L)
  }

  test("in-repo corpus: planted orphans score as the reference scores them") {
    val out = ValidationCorpus.run(spark, demoScript, withOrphans(tables))
    assert(out.failed.isEmpty,
      out.failed.map { case (s, e) => s"$s => $e" }.mkString("\n"))
    // aliased ORPHANS row: hard (-5); the lower-case 'FK orphan' summary
    // row misses the case-sensitive hard class: warning (-1); the
    // un-aliased orphan count scores nothing; the violations-table
    // re-query appends its row to the issues with no score change
    assert(out.score == 93.0)
    assert(out.issues == Seq("ORPHANS: Fact_UserSnapshot: 6",
      "FK orphan: WorkoutSession->User: 3 violations"))
    assert(out.warnings == Seq("RANGE fact_hourlyactivity.Calories: 1",
      "FK orphan: WorkoutSession->User: 3"))
  }

  test("parses the full statement corpus") {
    val stmts = SqlRunner.parse(script)
    // 7 SET vars + inventory/missing + 18 PK + 17 FK + NULL/domain/range
    // + coverage + distribution + smoke + violations DDL/inserts/summary
    assert(stmts.size >= 75, s"got ${stmts.size}")
    assert(stmts.count(_.toUpperCase.startsWith("SET @")) == 7)
  }

  test("every statement executes on the built warehouse; clean = 100.0") {
    val out = ValidationCorpus.run(spark, script, tables)
    assert(out.failed.isEmpty,
      out.failed.map { case (s, e) => s"$s => $e" }.mkString("\n"))
    assert(out.executed == out.statements)
    assert(out.score == 100.0)
    assert(out.issues.isEmpty && out.warnings.isEmpty)
    assert(out.tableCounts.size == 19)
    assert(out.tableCounts("dim_date") == 3653L)
  }

  test("planted orphans surface through the corpus scoring") {
    // fact_usersnapshot→dim_user is the aliased ORPHANS check (the later
    // un-aliased ones are invisible to scoring — a reference quirk we
    // mirror); workoutsession orphans surface via the violations table.
    val out = ValidationCorpus.run(spark, script, withOrphans(tables))
    assert(out.score <= 95.0)
    assert(out.issues.exists(_.startsWith("ORPHANS: Fact_UserSnapshot")))
    // the reference's final violations-table re-query reports the rest
    assert(out.issues.exists(_.startsWith("FK orphan: WorkoutSession->User")))
  }
}
