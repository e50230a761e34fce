package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, StandardCopyOption}

/** The star-schema tables the catalog queries read (region … embeddings),
  * generated at sf0.1 row counts with the column names, types and value
  * domains the engine's readers expect. Every value is a hash of the row id
  * and a per-column salt, so the tables are identical on every run and every
  * host; they do not depend on the workload seed, which only orders the
  * queries. Each table is one parquet file `<name>.parquet`, the layout
  * `graft.sources.Tables` reads (its streaming readers hard-link the file).
  */
object WarehouseData {
  val Version = "v1"
  val Tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  private val Customers = 15000
  private val Suppliers = 1000
  private val Parts = 20000
  private val Orders = 150000
  private val Lineitems = 600000
  private val Events = 100000
  private val Users = 1500
  private val Documents = 5000
  private val Vectors = 2000

  /** uniform [0, 1) from (id, salt) */
  private def u(salt: Int): String = s"(pmod(xxhash64(id, $salt), 1000000007) / 1000000007.0)"
  private def pick(salt: Int, n: Int): String = s"cast(pmod(xxhash64(id, $salt), $n) as int)"
  private def oneOf(salt: Int, values: Seq[String]): String =
    values.map(v => s"'$v'").mkString("element_at(array(", ",", s"), ${pick(salt, values.size)} + 1)")

  private val Words = Seq("a", "the", "data", "query", "scan", "filter", "join", "group", "agg",
    "sort", "order", "hash", "key", "value", "row", "column", "table", "part", "customer",
    "line", "window", "stream", "batch", "merge", "vector", "spark", "fast", "slow", "small",
    "big", "index")

  private def tableDefs(spark: SparkSession): Seq[(String, DataFrame)] = {
    def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()
    Seq(
      "region" -> rows(5).selectExpr("cast(id as int) r_regionkey",
        "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), cast(id as int) + 1) r_name"),
      "nation" -> rows(25).selectExpr("cast(id as int) n_nationkey",
        "concat('NATION_', id) n_name", "cast(id % 5 as int) n_regionkey"),
      "customer" -> rows(Customers).selectExpr("id c_custkey",
        "format_string('Customer#%09d', id) c_name", s"${pick(1, 25)} c_nationkey",
        s"round(-999.99 + ${u(2)} * 10999.79, 2) c_acctbal",
        s"${oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} c_mktsegment"),
      "supplier" -> rows(Suppliers).selectExpr("id s_suppkey",
        "format_string('Supplier#%09d', id) s_name", s"${pick(4, 25)} s_nationkey",
        s"round(-999.99 + ${u(5)} * 10999.79, 2) s_acctbal"),
      "part" -> rows(Parts).selectExpr("id p_partkey",
        s"concat(${oneOf(6, Seq("blue", "hot", "large", "small", "red"))}, ' ', " +
          s"${oneOf(7, Seq("anvil", "bolt", "ring", "widget", "gear", "nut", "pipe", "valve", "spring", "cable", "lever", "bracket", "hinge"))}) p_name",
        s"concat('Brand#', ${pick(8, 25)} + 1) p_brand",
        s"${oneOf(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))} p_type",
        s"${pick(10, 50)} + 1 p_size", "round(900 + (id % 1000) / 10.0, 1) p_retailprice"),
      "orders" -> rows(Orders).selectExpr("id o_orderkey",
        s"cast(pmod(xxhash64(id, 11), $Customers) as bigint) o_custkey",
        s"${oneOf(12, Seq("F", "O", "P"))} o_orderstatus",
        s"round(1000 + ${u(13)} * 499000, 2) o_totalprice",
        s"cast(date_add(date'1995-01-01', ${pick(14, 2404)}) as timestamp) o_orderdate",
        s"${oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} o_orderpriority"),
      "lineitem" -> rows(Lineitems).selectExpr(
        s"cast(pmod(xxhash64(id, 16), $Orders) as bigint) l_orderkey",
        s"cast(pmod(xxhash64(id, 17), $Parts) as bigint) l_partkey",
        s"cast(pmod(xxhash64(id, 18), $Suppliers) as bigint) l_suppkey",
        s"${pick(19, 7)} + 1 l_linenumber",
        s"cast(${pick(20, 50)} + 1 as double) l_quantity",
        s"round(900 + ${u(21)} * 104100, 2) l_extendedprice",
        s"${pick(22, 11)} / 100.0 l_discount", s"${pick(23, 9)} / 100.0 l_tax",
        s"${oneOf(24, Seq("A", "N", "R"))} l_returnflag", s"${oneOf(25, Seq("F", "O"))} l_linestatus",
        s"cast(date_add(date'1995-01-02', ${pick(26, 2499)}) as timestamp) l_shipdate"),
      // events arrive in event_id order over January 2024, ~26 s apart
      "events" -> rows(Events).selectExpr("id event_id",
        s"timestamp_micros(1704067200000000 + id * 25920000 + pmod(xxhash64(id, 27), 25920000)) ts",
        s"cast(pmod(xxhash64(id, 28), $Users) as bigint) user_id",
        s"${oneOf(29, Seq("click", "error", "purchase", "signup", "view"))} event_type",
        s"round(-ln(1 - ${u(30)}) * 50, 2) value",
        s"concat('{\"k\": ', ${pick(31, 100)}, '}') props"),
      "documents" -> rows(Documents).selectExpr("id doc_id",
        s"concat_ws(' ', transform(sequence(1, ${pick(32, 93)} + 8), " +
          s"i -> element_at(array(${Words.map(w => s"'$w'").mkString(",")}), " +
          s"cast(pmod(xxhash64(id, i, 33), ${Words.size}) as int) + 1))) text",
        s"${oneOf(34, Seq("de", "en", "es", "fr", "zh"))} lang",
        s"concat('src', ${pick(35, 20)}) source")
        .selectExpr("*", "cast(length(text) as bigint) n_chars"),
      // ten label clusters: a per-label centre plus per-vector noise
      "embeddings" -> rows(Vectors).selectExpr("id vec_id", s"${pick(36, 10)} label")
        .selectExpr("vec_id",
          "transform(sequence(0, 63), i -> cast(" +
            "0.3 * (pmod(xxhash64(label, i, 37), 2001) / 1000.0 - 1.0) + " +
            "0.1 * (pmod(xxhash64(vec_id, i, 38), 2001) / 1000.0 - 1.0) as float)) embedding",
          "label"))
  }

  /** Write every table under `dir` unless a complete copy is already there
    * (the marker file is written last). Returns the seconds spent.
    */
  def ensure(spark: SparkSession, dir: Path): Double = {
    val marker = dir.resolve(s"_COMPLETE_$Version")
    if (Files.exists(marker)) return 0.0
    val t0 = System.nanoTime()
    Files.createDirectories(dir)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    for ((name, df) <- tableDefs(spark)) {
      val tmp = dir.resolve(s"_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Util.deleteRecursively(tmp)
    }
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
    Files.write(marker, Array.emptyByteArray)
    (System.nanoTime() - t0) / 1e9
  }
}
