package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, row index, field), so a table and the expected answers the
  * checks compare against come from the same definition, whatever the
  * partitioning that materializes it.
  *
  * Float64 values are multiples of 1/64 or 1/4 with small magnitudes, so
  * every sum the checks take is exact in any summation order.
  */
object Gen {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, i: Long, field: Int): Long = mix(mix(seed * 1000003L + field) ^ i)
  def uni(seed: Long, i: Long, field: Int, n: Int): Int = java.lang.Math.floorMod(h(seed, i, field), n.toLong).toInt

  val Words: Array[String] = ("alpha bravo carefully final quickly regular pending express " +
    "furious ironic blithely silent even bold deposits accounts packages requests " +
    "theodolites pinto beans instructions foxes ideas dependencies platelets asymptotes " +
    "courts dolphins excuses frays sheaves warhorses sauternes braids somas dugouts " +
    "across above among after against along slyly fluffily daringly doggedly " +
    "special unusual careful sly close quiet thin ruthless busy final").split(' ')
  val ShipModes: Array[String] = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Flags: Array[String] = Array("A", "N", "R")

  def words(seed: Long, i: Long, field: Int, min: Int, spread: Int): String = {
    val n = min + uni(seed, i, field, spread)
    val sb = new StringBuilder
    var w = 0
    while (w < n) {
      if (w > 0) sb.append(' ')
      sb.append(Words(uni(seed, i, field + 1 + w, Words.length)))
      w += 1
    }
    sb.toString
  }

  // ------------------------------------------------ lineitem-shaped rows

  /** 9 columns, 3 per COLF type. `row_id` is a permutation of the row
    * index: unique, and unclustered in generation order.
    */
  final case class Line(row_id: Int, orderkey: Int, partkey: Int,
      quantity: Double, price: Double, discount: Double,
      returnflag: String, shipmode: String, comment: String)

  /** A prime multiplier: coprime to every table size it does not divide. */
  val PermA = 1000003L

  final class LineSpace(val seed: Long, val n: Int) extends Serializable {
    require(n % PermA != 0, "the permutation needs a size coprime to its multiplier")
    private val b = java.lang.Math.floorMod(h(seed, -1L, 0), n.toLong)
    def perm(i: Long): Int = ((i % n * (PermA % n) + b) % n).toInt
    def row(i: Long): Line = Line(
      perm(i), (i / 4).toInt + 1, 1 + uni(seed, i, 2, 20000),
      1.0 + uni(seed, i, 3, 50), uni(seed, i, 4, 400000) * 0.25, uni(seed, i, 5, 7) / 64.0,
      Flags(uni(seed, i, 6, 3)), ShipModes(uni(seed, i, 7, 7)), words(seed, i, 8, 3, 4))
    def columns: Seq[String] = Seq("row_id", "orderkey", "partkey", "quantity", "price",
      "discount", "returnflag", "shipmode", "comment")
    def frame(spark: SparkSession, parts: Int): DataFrame = {
      import spark.implicits._
      val sp = this
      spark.range(0, n, 1, parts).as[Long].map(i => sp.row(i)).toDF()
    }
  }

  // ------------------------------------------------------ ingest rows

  final case class Ing(k: Int, g: Int, a: Int, b: Double, s: String, t: String)

  /** Row content for key `k` at update version `v`: an update changes
    * every non-key column, so a lost or duplicated update shows in the
    * checksums.
    */
  def ing(seed: Long, k: Int, v: Int): Ing = {
    val x = k.toLong * 64 + v
    val a = ingA(seed, k, v)
    Ing(k, ingG(seed, k, v), a, a * 0.5, "user-" + uni(seed, x, 13, 50000), words(seed, x, 14, 2, 3))
  }
  def ingA(seed: Long, k: Int, v: Int): Int = uni(seed, k.toLong * 64 + v, 11, 1000000)
  def ingG(seed: Long, k: Int, v: Int): Int = uni(seed, k.toLong * 64 + v, 12, 1000)

  // ------------------------------------------------------------- CSV size

  /** CSV text bytes of one row, the denominator of the size metrics. */
  def csvBytes(fields: Product): Long = {
    var n = fields.productArity.toLong // separators + newline
    val it = fields.productIterator
    while (it.hasNext) {
      n += (it.next() match {
        case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
        case v         => v.toString.length
      })
    }
    n
  }

  // ---------------------------------------------- TPC-H-shaped parquet

  /** Tables the pipeline queries read, with the column names and types
    * of the TPC-H parquet layout they were written against. `orders` is
    * the scale knob; lineitem averages 4 lines per order.
    */
  def tpch(spark: SparkSession, seed: Long, orders: Int, parts: Int): Map[String, DataFrame] = {
    val s = lit(seed)
    def hf(f: Int, c: org.apache.spark.sql.Column = col("id")) = xxhash64(s, c, lit(f))
    def u(f: Int, n: Long, c: org.apache.spark.sql.Column = col("id")) = pmod(hf(f, c), lit(n))
    def pick(f: Int, xs: Seq[String]) = element_at(array(xs.map(lit): _*), (u(f, xs.size) + 1).cast("int"))
    val customers = math.max(orders / 10, 150)
    val suppliers = math.max(orders / 150, 20)
    val partsN = math.max(orders / 8, 200)
    def daysAfter(c: org.apache.spark.sql.Column) =
      date_add(to_date(lit("1992-01-01")), c.cast("int")).cast("timestamp")
    val nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
      "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO",
      "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
      "UNITED KINGDOM", "UNITED STATES")
    val region = spark.range(0, 5, 1, 1).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = spark.range(0, 25, 1, 1).select(col("id").cast("int").as("n_nationkey"),
      element_at(array(nations.map(lit): _*), (col("id") + 1).cast("int")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(1, customers + 1, 1, 1).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      u(20, 25).cast("int").as("c_nationkey"),
      ((u(21, 1099999L) - 99999L) / 100.0).as("c_acctbal"),
      pick(22, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val ordersDf = spark.range(1, orders + 1, 1, parts).select(col("id").as("o_orderkey"),
      (u(30, customers) + 1).as("o_custkey"),
      pick(31, Seq("F", "O", "P")).as("o_orderstatus"),
      ((u(32, 50000000L) + 90000L) / 100.0).as("o_totalprice"),
      daysAfter(u(33, 2400)).as("o_orderdate"),
      pick(34, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = spark.range(0, orders.toLong * 7, 1, parts)
      .select((col("id") / 7 + 1).cast("long").as("ok"), (col("id") % 7 + 1).cast("int").as("ln"))
      .where(col("ln") <= u(40, 7, col("ok")) + 1)
      .select(col("ok").as("l_orderkey"),
        (pmod(xxhash64(s, col("ok"), col("ln"), lit(41)), lit(partsN)) + 1).as("l_partkey"),
        (pmod(xxhash64(s, col("ok"), col("ln"), lit(42)), lit(suppliers)) + 1).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        (pmod(xxhash64(s, col("ok"), col("ln"), lit(43)), lit(50)) + 1).cast("double").as("l_quantity"),
        ((pmod(xxhash64(s, col("ok"), col("ln"), lit(44)), lit(10400000L)) + 90000L) / 100.0)
          .as("l_extendedprice"),
        (pmod(xxhash64(s, col("ok"), col("ln"), lit(45)), lit(11)) / 100.0).as("l_discount"),
        (pmod(xxhash64(s, col("ok"), col("ln"), lit(46)), lit(9)) / 100.0).as("l_tax"),
        element_at(array(Flags.map(lit): _*),
          (pmod(xxhash64(s, col("ok"), col("ln"), lit(47)), lit(3)) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (pmod(xxhash64(s, col("ok"), col("ln"), lit(48)), lit(2)) + 1).cast("int")).as("l_linestatus"),
        daysAfter(pmod(xxhash64(s, col("ok"), col("ln"), lit(49)), lit(2500))).as("l_shipdate"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "orders" -> ordersDf, "lineitem" -> lineitem)
  }
}
