package graft.core

import org.apache.spark.sql.types.StructType

/** Declared schemas of the ten testdata tables (the TPC-H-style
  * `region nation customer supplier part orders lineitem`, plus `events`,
  * `documents`, `embeddings`).
  *
  * Reading with a declared schema skips parquet schema inference, which
  * otherwise launches one Spark job per read. Each schema is exactly what
  * Spark infers from the parquet footer under the session settings every
  * entry point uses (`spark.sql.legacy.parquet.nanosAsLong=true`, UTC):
  * every field nullable, naive microsecond timestamps as TIMESTAMP_NTZ.
  * `TableCatalogSpec` checks that equality against each testdata
  * directory, so a regenerated table whose types drift fails there
  * instead of misreading at query time.
  */
object TableCatalog {

  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
      "l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }
}
