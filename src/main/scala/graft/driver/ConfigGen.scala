package graft.driver

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Config autogeneration (SURVEY.md §3.3; reference update_config.py):
  * discover tables not yet under ingestion, derive their spec row from
  * schema facts, and merge into the existing config.
  *
  * The schema facts (has created/modified datetime, auto-increment
  * column, primary keys) arrive as a DataFrame — in production from a
  * JDBC read of information_schema (TypeMapping.informationSchemaSql),
  * in tests fabricated — so the derivation logic is engine-pure:
  * anti-join (J1), max-id assignment (A5), union + sort (U1/O1).
  */
object ConfigGen {

  /** `tables`: (databasename, tablename, has_created, has_modified,
    * auto_inc_col, pkey, datetime_col). `existing`: current config rows
    * with at least (databasename, tablename, lake_ingestion_id).
    */
  def newSpecRows(tables: DataFrame, existing: DataFrame,
                  targetLocation: String, dagGroupPrefix: String = "dag_"): DataFrame = {
    val maxId = existing.agg(coalesce(max(col("lake_ingestion_id")), lit(0L))).head().getLong(0)

    // J1: tables minus already-configured (left_anti on the pair)
    val fresh = tables.join(existing.select("databasename", "tablename"),
      Seq("databasename", "tablename"), "left_anti")

    // delta field preference: modified > created > auto-increment
    // (update_config.py:143-151); both datetime cols → coalesce expr
    val deltaField = when(col("has_modified"), lit("modified_datetime"))
      .when(col("has_created"), lit("created_datetime"))
      .otherwise(col("auto_inc_col"))
    val deltaExpr = when(col("has_modified") && col("has_created"),
      lit("coalesce(modified_datetime, created_datetime)")).otherwise(lit(""))
    val dateNotAvailable = when(col("has_modified") || col("has_created"), lit(0)).otherwise(lit(1))
    // active only when an incremental handle exists (update_config.py:132-141)
    val active = when(col("has_modified") || col("has_created")
      || col("auto_inc_col").isNotNull, lit(1)).otherwise(lit(0))
    // partition: time-based YYYYMMDD if a datetime col exists, else 1M
    // id-range, else none (update_config.py:176-222) — JSON, not eval'd
    val partitions = when(col("datetime_col").isNotNull,
        concat(lit("""[{"seq_no":1,"column_type":"time-based","column":""""),
          col("datetime_col"), lit("""","format":"YYYYMMDD"}]""")))
      .when(col("auto_inc_col").isNotNull,
        concat(lit("""[{"seq_no":1,"column_type":"non-time-based","column":""""),
          col("auto_inc_col"), lit("""","format":"1M"}]""")))
      .otherwise(lit("[]"))

    fresh
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("databasename"), col("tablename"))))
      .select(
        (col("__rn") + lit(maxId)).as("lake_ingestion_id"),
        lit("mysql-table").as("ingestion_type"),
        lit("").as("servername"),
        col("databasename"), col("tablename"),
        deltaField.as("delta_field"),
        deltaExpr.as("delta_field_expr"),
        dateNotAvailable.as("date_not_available"),
        active.as("active_indicator"),
        lit("fs").as("target_type"),
        lit(targetLocation).as("target_location"),
        coalesce(col("pkey"), lit("")).as("primary_key"),
        concat(lit("dl_"), col("databasename"), lit("_lv")).as("view_db"),
        concat(col("tablename"), lit("_lv")).as("view_name"),
        lit(1).as("view_needed"),
        partitions.as("partition_config"),
        concat(lit(dagGroupPrefix), col("databasename")).as("airflow_dag_group"))
  }

  /** Merge new rows into the config (U1 + O1: unionByName + id sort). */
  def mergeConfig(existing: DataFrame, newRows: DataFrame): DataFrame =
    existing.unionByName(newRows, allowMissingColumns = true)
      .orderBy(col("lake_ingestion_id"))

  /** K3 in the reference's NATIVE format: write the merged config as an
    * xlsx control sheet (aws_utils.py:265-299 parity via the
    * dependency-free [[graft.config.Xlsx]] codec). Config sheets are
    * O(100) control rows — the driver-side collect is the point, one
    * file a human can open.
    */
  def writeConfigXlsx(df: DataFrame, path: String): Unit = {
    val header = df.columns.toSeq
    val rows = df.collect().toSeq.map(r =>
      header.indices.map(i => Option(r.get(i)).map(_.toString).getOrElse("")))
    graft.config.Xlsx.write(path, header +: rows)
  }
}
