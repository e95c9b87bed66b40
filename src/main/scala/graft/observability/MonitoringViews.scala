package graft.observability

import graft.catalog.StorageViews
import graft.maintenance.Statistics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL-name parity for the monitoring toolkit (SURVEY.md §2.9 D2): registers
  * the engine's observability surface under the reference's view names so an
  * operator can run the same dashboard SQL they run today (reference: the
  * SQL files under solutions/monitoring/scripts/views and
  * samples/sqlops/MonitoringScripts). Full toolkit:
  *
  *  - vw_active_queries                  ← QueryJournal.requests
  *  - vw_query_steps                     ← QueryJournal.steps
  *  - vw_query_step_details              ← QueryJournal.stepDetails
  *  - vw_sql_requests                    ← QueryJournal.sqlRequests (per-task
  *    ≈ per-distribution request map, microsoft.vw_sql_requests.sql:60-79)
  *  - vw_plan_findings                   ← QueryJournal.findings (PlanLint)
  *  - vw_query_queue                     ← Wlm.queueJournal
  *  - vw_query_slots                     ← Wlm.slotsView
  *    (microsoft.vw_query_slots.sql:30-33)
  *  - vw_table_sizes                     ← StorageViews.tableSizesRef
  *    (reference shape, microsoft.vw_table_sizes.sql:7-129)
  *  - vw_table_space_summary             ← reference SQL over vw_table_sizes
  *    (microsoft.vw_table_space_summary.sql:49-71)
  *  - vw_table_space_by_distribution     ← (microsoft.vw_table_space_by_distribution.sql:5-15)
  *  - vw_table_space_by_distribution_type← (microsoft.vw_table_space_by_distribution_type.sql)
  *  - vw_table_space_by_index_type       ← (microsoft.vw_table_space_by_index_type.sql)
  *  - vw_tables_with_skew                ← (microsoft.vw_tables_with_skew.sql:9-19)
  *  - vw_statistics_age                  ← Statistics.statisticsAgeRef
  *    (microsoft.vw_statistics_age.sql:4-22)
  *  - vw_security_role_members           ← Security.securityRoleMembers
  *    (microsoft.vw_security_role_members.sql:1-25)
  *  - vw_rowgroup_details / vw_table_health ← StorageViews (engine-shaped)
  */
final class MonitoringViews(spark: SparkSession, journal: QueryJournal,
    wlm: Option[Wlm] = None) {

  /** (Re-)register the query-lifecycle views (journal views are snapshots;
    * call again to refresh).
    */
  def registerQueryViews(): Unit = {
    journal.requests.createOrReplaceTempView("vw_active_queries")
    journal.steps.createOrReplaceTempView("vw_query_steps")
    journal.stepDetails.createOrReplaceTempView("vw_query_step_details")
    journal.sqlRequests.createOrReplaceTempView("vw_sql_requests")
    journal.findings.createOrReplaceTempView("vw_plan_findings")
    wlm.foreach { w =>
      w.resourceWaits.createOrReplaceTempView("vw_query_queue")
      w.slotsView.createOrReplaceTempView("vw_query_slots")
      w.classifiersView.createOrReplaceTempView("vw_workload_classifiers")
    }
    Statistics.statisticsAgeRef(spark)
      .createOrReplaceTempView("vw_statistics_age")
  }

  /** Register the security toolkit view over a principal catalog (the 15th
    * and final reference view name — reference:
    * microsoft.vw_security_role_members.sql:4).
    */
  def registerSecurityViews(security: graft.catalog.Security): Unit =
    security.securityRoleMembers
      .createOrReplaceTempView("vw_security_role_members")

  /** Register the declared-constraint catalog view (sys.foreign_keys
    * analog over [[graft.catalog.Constraints]] declarations).
    */
  def registerConstraintViews(): Unit =
    graft.catalog.Constraints.foreignKeys(spark)
      .createOrReplaceTempView("vw_foreign_keys")

  /** Register the pipeline-run journal view over an Orchestrator result —
    * the ADF monitoring pane's "activity runs" grid as the same temp-view
    * surface every other engine channel uses.
    */
  def registerPipelineViews(
      result: graft.maintenance.Orchestrator.Result): Unit =
    graft.maintenance.Orchestrator.journalDf(spark, result)
      .createOrReplaceTempView("vw_pipeline_runs")

  /** Register the storage views for the given table → location map, plus the
    * reference's view-over-view space rollups as direct SQL transcriptions.
    */
  def registerStorageViews(tables: Map[String, String]): Unit = {
    StorageViews.tableSizesRef(spark, tables)
      .createOrReplaceTempView("vw_table_sizes")
    StorageViews.rowgroupDetails(spark, tables)
      .createOrReplaceTempView("vw_rowgroup_details")
    StorageViews.rowgroupHealth(spark, tables)
      .createOrReplaceTempView("vw_table_health")
    // vw_table_space_summary (microsoft.vw_table_space_summary.sql:49-71)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW vw_table_space_summary AS
        |SELECT database_name, schema_name, table_name,
        |  distribution_policy_name, distribution_column, index_type_desc,
        |  COUNT(DISTINCT partition_nmbr)   AS nbr_partitions,
        |  SUM(row_count)                   AS table_row_count,
        |  SUM(reserved_space_GB)           AS table_reserved_space_GB,
        |  SUM(data_space_GB)               AS table_data_space_GB,
        |  SUM(index_space_GB)              AS table_index_space_GB,
        |  SUM(unused_space_GB)             AS table_unused_space_GB
        |FROM vw_table_sizes
        |GROUP BY database_name, schema_name, table_name,
        |  distribution_policy_name, distribution_column, index_type_desc""".stripMargin)
    // vw_table_space_by_distribution (microsoft.vw_table_space_by_distribution.sql:5-15)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW vw_table_space_by_distribution AS
        |SELECT distribution_id,
        |  SUM(row_count)         AS total_node_distribution_row_count,
        |  SUM(reserved_space_MB) AS total_node_distribution_reserved_space_MB,
        |  SUM(data_space_MB)     AS total_node_distribution_data_space_MB,
        |  SUM(index_space_MB)    AS total_node_distribution_index_space_MB,
        |  SUM(unused_space_MB)   AS total_node_distribution_unused_space_MB
        |FROM vw_table_sizes GROUP BY distribution_id""".stripMargin)
    // vw_table_space_by_distribution_type
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW vw_table_space_by_distribution_type AS
        |SELECT distribution_policy_name,
        |  SUM(row_count)         AS table_type_row_count,
        |  SUM(reserved_space_GB) AS table_type_reserved_space_GB,
        |  SUM(data_space_GB)     AS table_type_data_space_GB,
        |  SUM(index_space_GB)    AS table_type_index_space_GB,
        |  SUM(unused_space_GB)   AS table_type_unused_space_GB
        |FROM vw_table_sizes GROUP BY distribution_policy_name""".stripMargin)
    // vw_table_space_by_index_type
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW vw_table_space_by_index_type AS
        |SELECT index_type_desc,
        |  SUM(row_count)         AS table_type_row_count,
        |  SUM(reserved_space_GB) AS table_type_reserved_space_GB,
        |  SUM(data_space_GB)     AS table_type_data_space_GB,
        |  SUM(index_space_GB)    AS table_type_index_space_GB,
        |  SUM(unused_space_GB)   AS table_type_unused_space_GB
        |FROM vw_table_sizes GROUP BY index_type_desc""".stripMargin)
    // vw_tables_with_skew (microsoft.vw_tables_with_skew.sql:9-19 verbatim:
    // the reference keeps tables whose min/max distribution ratio > .10)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW vw_tables_with_skew AS
        |SELECT * FROM vw_table_sizes
        |WHERE two_part_name IN (
        |  SELECT two_part_name FROM vw_table_sizes
        |  WHERE row_count > 0
        |  GROUP BY two_part_name
        |  HAVING MIN(row_count * 1.000) / MAX(row_count * 1.000) > .10)""".stripMargin)
  }

  /** The reference's dashboard-widget pattern over the registered views:
    * cross join of one-row scalar aggregates (reference:
    * samples/sqlops/MonitoringScripts/UserActivities.sql:3-31).
    */
  def activitySummary(): DataFrame =
    spark.sql(
      """SELECT a.n_requests, a.n_failed, b.total_shuffle_bytes
        |FROM (SELECT COUNT(*) AS n_requests,
        |             SUM(CASE WHEN status = 'Failed' THEN 1 ELSE 0 END) AS n_failed
        |      FROM vw_active_queries) a
        |CROSS JOIN (SELECT COALESCE(SUM(shuffle_write_bytes), 0) AS total_shuffle_bytes
        |            FROM vw_query_steps) b""".stripMargin)

  /** Per-request detail list ≈ UserActivitiesDetails.sql (open sessions with
    * their work): the journal's requests joined to their step rollup.
    */
  def userActivitiesDetails(): DataFrame =
    journal.requests.as("r")
      .join(journal.stepDetails.as("d"),
        col("r.label") === col("d.request_label"), "left")
      .select(col("r.request_id").as("session_id"), col("r.label"),
        col("r.status"), col("r.submit_time"), col("r.duration_ms"),
        coalesce(col("d.n_steps"), lit(0L)).as("n_steps"),
        coalesce(col("d.shuffle_read_bytes"), lit(0L)).as("shuffle_read_bytes"),
        coalesce(col("d.total_ms"), lit(0L)).as("steps_total_ms"))
      .filter(col("r.status") =!= "Closed")

  /** Per-table segment-quality detail — the inner query of the sqlops
    * TableHealthCount widget with its 16 rowgroup-state conditional
    * aggregates (reference:
    * samples/sqlops/MonitoringScripts/TableHealthCount.sql:6-48). Parquet has
    * no delta store, so OPEN/CLOSED/INVISIBLE states are structurally zero
    * (counts/rows 0, MIN/MAX/AVG NULL — the same NULL-skipping AVG(CASE)
    * semantics) and every row group reports as COMPRESSED.
    */
  def tableHealthDetail(tables: Map[String, String]): DataFrame = {
    val sizes = StorageViews.tableSizesRef(spark, tables)
      .groupBy(col("table_name"))
      .agg(
        countDistinct(col("partition_nmbr")).as("table_partition_count"),
        sum(col("row_count")).as("row_count_total"),
        (sum(col("row_count")) / countDistinct(col("distribution_id")))
          .cast("long").as("row_count_per_distribution_MAX"),
        ceil((sum(col("row_count")) * 1.0 /
          countDistinct(col("distribution_id"))) / StorageViews.RowgroupTarget)
          .as("rowgroup_per_distribution_MAX"))
    val rg = StorageViews.rowgroupDetails(spark, tables)
      .groupBy(col("table_name"))
      .agg(
        count(lit(1)).as("COMPRESSED_rowgroup_count"),
        sum(col("row_count")).as("COMPRESSED_rowgroup_rows"),
        lit(0L).as("COMPRESSED_rowgroup_rows_DELETED"),
        min(col("row_count")).as("COMPRESSED_rowgroup_rows_MIN"),
        max(col("row_count")).as("COMPRESSED_rowgroup_rows_MAX"),
        avg(col("row_count")).cast("long").as("COMPRESSED_rowgroup_rows_AVG"))
    sizes.join(rg, Seq("table_name"))
      .select(
        current_timestamp().as("execution_date"),
        lit(spark.catalog.currentDatabase).as("database_name"),
        lit("default").as("schema_name"),
        col("table_name"),
        col("table_partition_count"), col("row_count_total"),
        col("row_count_per_distribution_MAX"),
        col("rowgroup_per_distribution_MAX"),
        lit(0L).as("INVISIBLE_rowgroup_count"),
        lit(0L).as("INVISIBLE_rowgroup_rows"),
        lit(null).cast("long").as("INVISIBLE_rowgroup_rows_MIN"),
        lit(null).cast("long").as("INVISIBLE_rowgroup_rows_MAX"),
        lit(null).cast("long").as("INVISIBLE_rowgroup_rows_AVG"),
        lit(0L).as("OPEN_rowgroup_count"),
        lit(0L).as("OPEN_rowgroup_rows"),
        lit(null).cast("long").as("OPEN_rowgroup_rows_MIN"),
        lit(null).cast("long").as("OPEN_rowgroup_rows_MAX"),
        lit(null).cast("long").as("OPEN_rowgroup_rows_AVG"),
        lit(0L).as("CLOSED_rowgroup_count"),
        lit(0L).as("CLOSED_rowgroup_rows"),
        lit(null).cast("long").as("CLOSED_rowgroup_rows_MIN"),
        lit(null).cast("long").as("CLOSED_rowgroup_rows_MAX"),
        lit(null).cast("long").as("CLOSED_rowgroup_rows_AVG"),
        col("COMPRESSED_rowgroup_count"), col("COMPRESSED_rowgroup_rows"),
        col("COMPRESSED_rowgroup_rows_DELETED"),
        col("COMPRESSED_rowgroup_rows_MIN"), col("COMPRESSED_rowgroup_rows_MAX"),
        col("COMPRESSED_rowgroup_rows_AVG"),
        concat(lit("ALTER INDEX ALL ON default."), col("table_name"),
          lit(" REBUILD;")).as("Rebuild_Index_SQL"))
  }

  /** The TableHealthCount widget itself: poor-quality-segment table count ×
    * stale-statistics count, cross-joined exactly like the reference
    * (TableHealthCount.sql:3-95).
    */
  def tableHealthCount(tables: Map[String, String]): DataFrame = {
    val poor = tableHealthDetail(tables)
      .filter(col("COMPRESSED_rowgroup_rows_AVG") < StorageViews.PoorSegmentThreshold ||
        col("INVISIBLE_rowgroup_rows_AVG") < StorageViews.PoorSegmentThreshold)
      .agg(count(lit(1)).as("Poor_Quality_Segments"))
    import spark.implicits._
    val stale = Seq(Statistics.staleStatsCount())
      .toDF("Stale_Stats_7_Days")
    poor.crossJoin(stale)
  }

  /** Trim-reason counts ≈ Rowgroups.sql (reference:
    * samples/sqlops/MonitoringScripts/Rowgroups.sql:1-33): the widget's
    * three one-row derived tables cross-joined (Memory_Limitation, Bulkload,
    * Dictionary_Size). Parquet has no dictionary-size trim, so C is
    * structurally 0 — the same structural-zero treatment as the OPEN/CLOSED
    * rowgroup states in [[tableHealthDetail]].
    */
  def rowgroups(tables: Map[String, String]): DataFrame = {
    val rg = StorageViews.rowgroupDetails(spark, tables)
    def cnt(reason: String, as: String) =
      rg.filter(col("trim_reason_desc") === reason)
        .agg(count(lit(1)).as(as))
    cnt("MEMORY_LIMITATION", "Memory_Limitation")
      .crossJoin(cnt("BULKLOAD", "Bulkload"))
      .crossJoin(cnt("DICTIONARY_SIZE", "Dictionary_Size"))
  }

  /** Per-node tempdb widget ≈ TempdbConsumption.sql — delegates to the
    * journal's executor-scratch accounting.
    */
  def tempdbConsumption(): DataFrame = journal.tempdbConsumption

  /** Impacted-tables triage report ≈ sqlops ImpactedTables (missing stats /
    * outdated stats / data skew). `minRows` defaults to the reference's
    * 1 M-row reporting gate.
    */
  def impactedTables(tables: Map[String, String],
      minRows: Long = 1000000L): DataFrame =
    StorageViews.impactedTables(spark, tables, minRows = minRows)

  /** Per-node memory utilization ≈ MemoryConsumption.sql (storage-memory
    * used/total per executor — the engine analog of the node performance
    * counters).
    */
  def memoryConsumption(): DataFrame = {
    import spark.implicits._
    spark.sparkContext.statusTracker.getExecutorInfos.toSeq
      .map { e =>
        val total = e.totalOnHeapStorageMemory()
        val used = e.usedOnHeapStorageMemory()
        (e.host(), if (total > 0) used * 100.0 / total else 0.0)
      }
      .toDF("pdw_node_id", "Memory_Utilization_Percentage")
  }

  /** Encryption-status widget — the TDE dashboard analog (reference:
    * samples/scripts/monitor/transparent_data_encryption/
    * transparent_data_encryption_status.sql:1-9: every database with
    * `is_encrypted` rendered 'TRUE'/'FALSE', ordered by name). The lake
    * model's at-rest encryption is a storage-platform property, so the
    * posture each database DECLARES (graft.encryption, set via
    * [[graft.maintenance.Ddl.setEncryption]]) is what a security review
    * audits — the same once-per-review catalog fold as the reference
    * script, over the bounded database list.
    */
  def encryptionStatus(): DataFrame = {
    import graft.maintenance.Ddl
    import spark.implicits._
    spark.catalog.listDatabases().collect().toSeq
      .map(d => (d.name, if (Ddl.databaseEncrypted(spark, d.name)) "TRUE"
        else "FALSE"))
      .sortBy(_._1)
      .toDF("name", "Encrypted")
  }

  /** Static documentation-links panel — the dashboard widget that points an
    * operator at the runbook for each health signal (reference:
    * samples/sqlops/MonitoringScripts/Documentation.sql:1-4, a one-row
    * SELECT of doc URLs). This engine's analogs live in-repo, so the panel
    * links each monitoring surface to the doc that explains acting on it.
    */
  def documentation(): DataFrame = {
    import spark.implicits._
    Seq((
      "docs/SCALE.md#skew",
      "docs/SCALE.md#rowgroups",
      "README.md#statistics",
      "README.md#operator-index"))
      .toDF("data_skew", "low_rowgroup_quality", "table_statistics",
        "operator_documentation")
  }
}
