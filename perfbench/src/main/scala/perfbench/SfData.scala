package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Star-schema tables for the operator leaves, with the schemas and value
  * domains of the repository's testdata tables (TESTDATA.md) at their
  * smallest scale (region, nation, customer, supplier, part, orders,
  * lineitem, events, documents, embeddings). Every value is a pure
  * function of (seed, table, row).
  */
object SfData {
  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
      p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double, l_discount: Double,
      l_tax: Double, l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
      value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
      lineitems: Int, events: Int, documents: Int, embeddings: Int)

  val Small = Sizes(150, 10, 200, 1500, 6000, 1000, 500, 500)

  private val vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window")
  private val adjectives = Vector("blue", "red", "small", "large", "green", "shiny", "old", "new")
  private val nouns = Vector("anvil", "widget", "ring", "bolt", "gear", "spring", "valve", "nut")

  def mix(seed: Long, table: Long, i: Long, k: Long = 0L): Long = {
    var z = seed * 0x632be59bd9b4e019L + table * 0x9e3779b97f4a7c15L + i * 0xbf58476d1ce4e5b9L + k
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def uni(h: Long, n: Int): Int = ((h >>> 1) % n).toInt
  private def unit01(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  private def cents(x: Double): Double = math.round(x * 100) / 100.0
  private val day = 86400000L
  private val ts1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val ts2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Word soup over the testdata vocabulary; one document in ten is a
    * near-duplicate of an earlier one (one word replaced), so the dedup
    * leaves have pairs to find.
    */
  def docText(seed: Long, i: Long): String = {
    val h = mix(seed, 7, i, 3)
    if (i > 0 && uni(h, 10) == 0) {
      val src = docText(seed, i - 1 - uni(mix(seed, 7, i, 4), math.min(i, 50L).toInt))
      val words = src.split(' ')
      words(uni(mix(seed, 7, i, 5), words.length)) = vocab(uni(mix(seed, 7, i, 6), vocab.size))
      words.mkString(" ")
    } else {
      val target = 48 + uni(mix(seed, 7, i, 1), 506)
      val sb = new StringBuilder
      var k = 0L
      while (sb.length < target) {
        if (sb.nonEmpty) sb.append(' ')
        sb.append(vocab(uni(mix(seed, 7, i, 100 + k), vocab.size)))
        k += 1
      }
      sb.toString
    }
  }

  def write(spark: SparkSession, dir: String, seed: Long, n: Sizes = Small): Unit = {
    import spark.implicits._
    def put[T](ds: org.apache.spark.sql.Dataset[T], name: String): Unit =
      ds.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    def range(k: Int) = spark.range(0, k, 1, 1)

    put(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (r, i) => Region(i, r) }.toDS(), "region")
    put((0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDS(), "nation")
    val segs = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    put(range(n.customers).map { i =>
      Customer(i, f"Customer#$i%09d", uni(mix(seed, 1, i, 1), 25),
        cents(-999.99 + unit01(mix(seed, 1, i, 2)) * 10999.98), segs(uni(mix(seed, 1, i, 3), 5)))
    }, "customer")
    put(range(n.suppliers).map { i =>
      Supplier(i, f"Supplier#$i%09d", uni(mix(seed, 2, i, 1), 25),
        cents(-999.99 + unit01(mix(seed, 2, i, 2)) * 10999.98))
    }, "supplier")
    val types = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    put(range(n.parts).map { i =>
      Part(i, adjectives(uni(mix(seed, 3, i, 1), 8)) + " " + nouns(uni(mix(seed, 3, i, 2), 8)),
        s"Brand#${1 + uni(mix(seed, 3, i, 3), 25)}", types(uni(mix(seed, 3, i, 4), 6)),
        1 + uni(mix(seed, 3, i, 5), 50), 900.0 + (i % 1000) / 10.0)
    }, "part")
    val prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val customers = n.customers
    put(range(n.orders).map { i =>
      Order(i, uni(mix(seed, 4, i, 1), customers), Vector("F", "O", "P")(uni(mix(seed, 4, i, 2), 3)),
        cents(1000 + unit01(mix(seed, 4, i, 3)) * 499000),
        new Timestamp(ts1995 + uni(mix(seed, 4, i, 4), 2400) * day),
        prios(uni(mix(seed, 4, i, 5), 5)))
    }, "orders")
    val (orders, parts, suppliers) = (n.orders, n.parts, n.suppliers)
    put(range(n.lineitems).map { i =>
      val q = 1 + uni(mix(seed, 5, i, 4), 50)
      LineItem(uni(mix(seed, 5, i, 1), orders), uni(mix(seed, 5, i, 2), parts),
        uni(mix(seed, 5, i, 3), suppliers), 1 + uni(mix(seed, 5, i, 9), 7), q.toDouble,
        cents(q * (900 + unit01(mix(seed, 5, i, 5)) * 1200)),
        uni(mix(seed, 5, i, 6), 11) / 100.0, uni(mix(seed, 5, i, 7), 9) / 100.0,
        Vector("A", "N", "R")(uni(mix(seed, 5, i, 8), 3)), if (i % 2 == 0) "O" else "F",
        new Timestamp(ts1995 + (1 + uni(mix(seed, 5, i, 10), 2500)) * day))
    }, "lineitem")
    val kinds = Vector("click", "error", "purchase", "signup", "view")
    val events = n.events
    put(range(n.events).map { i =>
      // strictly increasing event time over ~30 days, microsecond precision
      val span = 30L * day * 1000L / events
      val us = i * span + (mix(seed, 6, i, 1) >>> 1) % span
      Event(i, { val t = new Timestamp(ts2024 + us / 1000); t.setNanos(((us % 1000000) * 1000).toInt); t },
        uni(mix(seed, 6, i, 2), 150), kinds(uni(mix(seed, 6, i, 3), 5)),
        cents(0.01 + unit01(mix(seed, 6, i, 4)) * 490), s"""{"k": ${uni(mix(seed, 6, i, 5), 100)}}""")
    }, "events")
    val langs = Vector("en", "en", "en", "de", "es", "fr", "zh")
    put(range(n.documents).map { i =>
      val text = docText(seed, i)
      Document(i, text, langs(uni(mix(seed, 7, i, 2), langs.size)), s"src${i % 20}", text.length.toLong)
    }, "documents")
    put(range(n.embeddings).map { i =>
      // unit vectors: 64 centred uniforms, normalized
      val v = Array.tabulate(64)(k => (unit01(mix(seed, 8, i, k)) - 0.5).toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      Embedding(i, v.map(_ / norm), uni(mix(seed, 8, i, 99), 10))
    }, "embeddings")
  }
}
