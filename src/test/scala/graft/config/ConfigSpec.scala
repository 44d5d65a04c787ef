package graft.config

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.PartitionSpec

class ConfigSpec extends SparkSpec {

  test("SpecStore parses CSV with JSON partition config, filters active + groups") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cfg")
    val csv =
      """lake_ingestion_id,ingestion_type,servername,databasename,tablename,delta_field,delta_field_expr,date_not_available,active_indicator,target_type,target_location,primary_key,view_db,view_name,view_needed,partition_config,airflow_dag_group
        |1,mysql-table,h1,db1,t1,mtime,"coalesce(mtime, ctime)",0,1,fs,/lake,id,lv,t1_lv,1,"[{""seq_no"":1,""column_type"":""time-based"",""column"":""ctime"",""format"":""YYYYMM""}]",g1
        |2,mysql-table,h1,db1,t2,id,,1,1,fs,/lake,id,lv,t2_lv,0,[],g2
        |3,mysql-table,h1,db1,t3,mtime,,0,0,fs,/lake,id,lv,t3_lv,0,[],g1
        |""".stripMargin
    java.nio.file.Files.writeString(dir.resolve("config.csv"), csv)

    val all = SpecStore.load(spark, dir.resolve("config.csv").toString)
    assert(all.count() == 2) // active only
    val g1 = SpecStore.load(spark, dir.resolve("config.csv").toString, Seq("g1")).collect()
    assert(g1.length == 1 && g1.head.tablename == "t1")
    assert(g1.head.partitions == Seq(PartitionSpec(1, "time-based", "ctime", "YYYYMM")))
    assert(g1.head.deltaExpr == "coalesce(mtime, ctime)")
    val g2 = SpecStore.load(spark, dir.resolve("config.csv").toString, Seq("g2")).collect()
    assert(g2.head.partitions.isEmpty && g2.head.dateNotAvailable == 1)
    assert(g2.head.deltaFieldExpr == "") // null-normalized
  }

  test("TypeMapping covers the reference's surface; decimal kept exact") {
    assert(TypeMapping.sparkType("bigint") == LongType)
    assert(TypeMapping.sparkType("varchar") == StringType)
    assert(TypeMapping.sparkType("json") == StringType)
    assert(TypeMapping.sparkType("decimal", 12, 2) == DecimalType(12, 2))
    assert(TypeMapping.sparkType("datetime") == TimestampType)
    assert(TypeMapping.sparkType("time") == DayTimeIntervalType())
    intercept[IllegalArgumentException](TypeMapping.sparkType("geometry"))
  }

  test("informationSchemaSql shapes a pushdown subquery") {
    val sql = TypeMapping.informationSchemaSql("db1", "t1")
    assert(sql.contains("table_schema = 'db1'") && sql.contains("AS graft_cols"))
  }
}
