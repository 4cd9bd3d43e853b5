package perfbench

import java.time.LocalDate
import java.util.SplittableRandom


/** Seeded generator of the TPC-H-shaped source tables that
  * `GraftStore.forDir` un-pivots into triples (region, nation, customer,
  * supplier, part, orders, lineitem). The same seed gives byte-identical
  * tables. The tables are also kept in memory: they are the bookkeeping
  * the workloads sample constants from and check answers against.
  */
object Gen {
  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
                            s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
                        p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
                         o_orderstatus: String, o_totalprice: Double,
                         o_orderdate: java.sql.Timestamp,
                         o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long,
                            l_suppkey: Long, l_linenumber: Int,
                            l_quantity: Double, l_extendedprice: Double,
                            l_discount: Double, l_tax: Double,
                            l_returnflag: String, l_linestatus: String,
                            l_shipdate: java.sql.Timestamp)

  val RegionNames = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val NationNames = Vector("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
    "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val Brands: Vector[String] =
    for (a <- Vector(1, 2, 3, 4, 5); b <- Vector(1, 2, 3, 4, 5)) yield s"Brand$a$b"
  private val TypeWords = Vector(Vector("STANDARD", "SMALL", "MEDIUM", "LARGE"),
    Vector("ANODIZED", "BURNISHED", "PLATED", "POLISHED"),
    Vector("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"))
  private val Epoch = LocalDate.of(1992, 1, 1)

  /** Tables for `customers` customers: ~10 orders each, 1-7 lines per
    * order, and part/supplier counts in TPC-H proportion.
    */
  final class Data(val seed: Long, customers: Int) {
    private val rnd = new SplittableRandom(seed)
    private def pick[T](v: Vector[T]): T = v(rnd.nextInt(v.size))
    private def money(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0

    val regions: Vector[Region] = RegionNames.zipWithIndex.map {
      case (n, i) => Region(i, n) }
    val nations: Vector[Nation] = NationNames.zipWithIndex.map {
      case (n, i) => Nation(i, n, java.lang.Math.floorMod(i + seed, regions.size.toLong).toInt) }
    val customerRows: Vector[Customer] = Vector.tabulate(customers) { i =>
      val k = i + 1L
      Customer(k, f"Customer-$k%09d", rnd.nextInt(nations.size),
        money(-999, 9999), pick(Segments))
    }
    val supplierRows: Vector[Supplier] =
      Vector.tabulate(math.max(10, customers / 15)) { i =>
        val k = i + 1L
        Supplier(k, f"Supplier-$k%09d", rnd.nextInt(nations.size), money(-999, 9999))
      }
    val partRows: Vector[Part] = Vector.tabulate(customers * 4 / 3) { i =>
      val k = i + 1L
      Part(k, s"part $k", pick(Brands), TypeWords.map(pick).mkString(" "),
        1 + rnd.nextInt(50), money(900, 2000))
    }
    val (orderRows: Vector[Order], lineRows: Vector[Lineitem]) = {
      val os = Vector.newBuilder[Order]
      val ls = Vector.newBuilder[Lineitem]
      for (i <- 0 until customers * 10) {
        val k = i + 1L
        val status = rnd.nextInt(100) match {
          case x if x < 49 => "F"
          case x if x < 98 => "O"
          case _           => "P"
        }
        val day = rnd.nextInt(2400)
        os += Order(k, 1L + rnd.nextInt(customers), status, money(800, 500000),
          timestamp(day), pick(Priorities))
        for (ln <- 1 to 1 + rnd.nextInt(7)) {
          val flag = rnd.nextInt(4) match {
            case 0 => "R"
            case 1 => "A"
            case _ => "N"
          }
          ls += Lineitem(k, 1L + rnd.nextInt(partRows.size),
            1L + rnd.nextInt(supplierRows.size), ln, 1 + rnd.nextInt(50),
            money(900, 100000), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
            flag, if (rnd.nextBoolean()) "O" else "F", timestamp(day + 1 + rnd.nextInt(120)))
        }
      }
      (os.result(), ls.result())
    }

    /** Writes one single-file parquet table per relation. */
    def write(dir: String): Unit = {
      new java.io.File(dir).mkdirs()
      Seq("region" -> regions, "nation" -> nations, "customer" -> customerRows,
        "supplier" -> supplierRows, "part" -> partRows, "orders" -> orderRows,
        "lineitem" -> lineRows).foreach { case (name, rows) =>
        writeParquet(s"$dir/$name.parquet", rows) }
    }
  }

  /** Plain parquet-hadoop writer (no Spark job): one required column per
    * case-class field; timestamps as UTC microseconds.
    */
  private def writeParquet(path: String, rows: Seq[Product]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val first = rows.head
    val fields = first.productElementNames.zip(first.productIterator).map {
      case (n, _: Int)                => s"required int32 $n;"
      case (n, _: Long)               => s"required int64 $n;"
      case (n, _: Double)             => s"required double $n;"
      case (n, _: String)             => s"required binary $n (STRING);"
      case (n, _: java.sql.Timestamp) => s"required int64 $n (TIMESTAMP(MICROS,true));"
      case (n, v) => throw new IllegalArgumentException(s"no parquet type for $n: $v")
    }
    val schema = MessageTypeParser.parseMessageType(fields.mkString("message t {", " ", "}"))
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration())
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.productIterator.zipWithIndex.foreach {
        case (x: Int, i)                => g.add(i, x)
        case (x: Long, i)               => g.add(i, x)
        case (x: Double, i)             => g.add(i, x)
        case (x: String, i)             => g.add(i, x)
        case (t: java.sql.Timestamp, i) => g.add(i, t.getTime * 1000L)
        case (v, i)                     => throw new IllegalArgumentException(s"column $i: $v")
      }
      w.write(g)
    } finally w.close()
  }

  /** Midnight UTC, `day` days after 1992-01-01. */
  def timestamp(day: Int): java.sql.Timestamp =
    new java.sql.Timestamp(Epoch.plusDays(day.toLong).toEpochDay * 86400000L)

  /** The store's rendering of an order date (`yyyy-MM-dd`, UTC). */
  def dateTerm(t: java.sql.Timestamp): String =
    LocalDate.ofEpochDay(t.getTime / 86400000L).toString
}
