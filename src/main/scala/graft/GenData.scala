package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Deterministic synthetic-data generator for AT-SCALE REHEARSAL: mirrors
  * the driver testdata's schemas and value distributions (TESTDATA.md; all
  * shapes re-derived from the sf0.1 parquet — 31-token document vocabulary,
  * 10..100 tokens/doc, planted exact/near duplicate docs, unit-norm 64-dim
  * embeddings with planted within-label near-dups, Poisson(4)
  * lines-per-order via uniform orderkey draws) at any scale factor.
  * `sf=1` is 10x sf0.1: 6M lineitem / 50k documents / 20k embeddings.
  *
  * Determinism is HASH-SEEDED PER ROW (splitmix64 of (table salt, id)), not
  * an RNG stream — the same row id yields the same values under any
  * partitioning, so the output is reproducible and the generation
  * parallelizes without coordination. Each table is written as a single
  * parquet FILE named `{table}.parquet` (the layout the DuckDB oracle and
  * TESTDATA.md readers expect); generation runs in parallel across tables.
  *
  * Usage: runMain graft.GenData <outDir> [sf] [zipf]   (default sf=1.0,
  * uniform; `zipf` switches foreign-key/categorical draws harmonic — see
  * [[zipfDraw]])
  *
  * events.ts is written as Spark's native TIMESTAMP(MICROS) — the same
  * layout the driver's testdata now ships — and [[graft.analytics.Tables
  * .events]] normalizes it to epoch-nanos LONG at read time. The optional
  * post-step `python3 scripts/cast_events_ns.py <outDir>` rewrites it to
  * the older INT64 TIMESTAMP(nanos) layout; both layouts are read
  * correctly (the normalizer handles either), so the cast is no longer
  * required.
  */
object GenData {

  // ---- deterministic per-row randomness --------------------------------
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def rng(salt: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(salt * 0x100000001b3L + id))
  private def r2(d: Double): Double = math.rint(d * 100) / 100

  /** Harmonic (Zipf s=1) draw over [0, n): inverse-CDF of p(k) ∝ 1/(k+1)
    * via k = floor((n+1)^u - 1). Key 0 receives ~ln(2)/ln(n+1) of all draws
    * (≈5% at n=1.5M) — a genuinely hot key, the shape the salting / AQE
    * skew-join / bucket-cap machinery exists for and which the uniform
    * generator never produces. Deterministic per row like every other draw. */
  private def zipfDraw(r: SplittableRandom, n: Long): Long =
    math.min(n - 1, (math.pow(n.toDouble + 1, r.nextDouble()) - 1).toLong)

  private val ts0 = LocalDate.of(1995, 1, 1)
  private def dayTs(days: Int): Timestamp =
    Timestamp.from(ts0.plusDays(days).atStartOfDay.toInstant(ZoneOffset.UTC))
  private val ev0micros =
    LocalDateTime.of(2024, 1, 1, 0, 0, 0).toInstant(ZoneOffset.UTC).toEpochMilli * 1000L
  private def microTs(micros: Long): Timestamp = {
    val t = new Timestamp(micros / 1000)
    t.setNanos(((micros % 1000000) * 1000).toInt)
    t
  }

  // ---- row models (schemas match the driver parquet exactly) -----------
  case class Region(r_regionkey: Int, r_name: String)
  case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
      s_acctbal: Double)
  case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: Timestamp)
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val ptypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjs = Array("large", "hot", "blue", "old", "small", "new", "red", "green", "shiny", "plain")
  private val nouns = Array("ring", "bolt", "plate", "screw", "wheel", "cog", "pin", "nut", "gear", "lever")
  private val etypes = Array("click", "error", "purchase", "signup", "view")
  /** The exact 31-token vocabulary of the driver documents corpus — small on
    * purpose (vocab-coverage thresholds in the query surface assume it). */
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "de", "es", "fr", "zh") // ~41% en, rest even

  // ---- documents: base text + planted exact/near duplicates ------------
  private def baseText(id: Long): String = {
    val r = rng(7001, id)
    val n = 10 + r.nextInt(91)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { if (i > 0) sb.append(' '); sb.append(vocab(r.nextInt(vocab.length))); i += 1 }
    sb.toString
  }
  private def docText(id: Long): String =
    if (id > 0 && id % 613 == 1) docText(id - 1) // exact duplicate of predecessor
    else if (id > 0 && id % 89 == 1) {           // near duplicate: ~1 in 12 tokens swapped
      val r = rng(7002, id)
      baseText(id - 1).split(' ').zipWithIndex
        .map { case (t, i) => if (i % 12 == 7) vocab(r.nextInt(vocab.length)) else t }
        .mkString(" ")
    } else baseText(id)

  // ---- embeddings: unit-norm gaussians + planted within-label near-dups
  private def baseVec(id: Long): Array[Float] = {
    val r = rng(8001, id)
    val v = Array.fill(64)(r.nextGaussian().toFloat)
    normalize(v)
  }
  private def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }
  private def embRow(id: Long): Emb =
    if (id > 0 && id % 40 == 37) { // near-dup: small perturbation, same label
      val r = rng(8002, id)
      val base = baseVec(id - 1)
      val v = normalize(base.map(x => x + 0.05f * r.nextGaussian().toFloat))
      Emb(id, v, rng(8003, id - 1).nextInt(10))
    } else Emb(id, baseVec(id), rng(8003, id).nextInt(10))

  // ---- main ------------------------------------------------------------
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args.headOption.getOrElse("/root/testdata-local/sf1"))
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    // Opt-in `zipf` mode: same schemas/row counts/planted dups, but the
    // foreign-key and categorical draws become harmonic — hot customer, hot
    // order, hot user, 90%-en documents — so the skew machinery (AQE skew
    // join, bucket caps, blocked near-dup) is rehearsed against the key
    // distribution it exists for. Uniform mode is byte-identical to before.
    val skew = args.length > 2 && args(2) == "zipf"
    Files.createDirectories(outDir)
    val spark = GraftSession.local()
    import spark.implicits._

    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    val (nCust, nSupp, nPart) = (n(150000), n(10000), n(200000))
    val (nOrders, nLine, nEvents) = (n(1500000), n(6000000), n(1000000))
    val (nDocs, nEmb) = (n(50000), n(20000))
    val nUsers = math.max(1L, nEvents * 3 / 200) // 1500 users per 100k events
    val evSpacing = 30L * 24 * 3600 * 1000000L / math.max(1L, nEvents)

    /** Write as a single parquet FILE `{name}.parquet` (oracle layout). */
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = outDir.resolve(s".tmp_$name")
      df.repartition(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val listing = Files.list(tmp)
      val part = try listing.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
        finally listing.close()
      part.foreach(Files.move(_, outDir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING))
      val walk = Files.walk(tmp)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
      require(part.isDefined, s"no parquet part produced for $name")
    }

    def gen[T <: Product : org.apache.spark.sql.Encoder](name: String, rows: Long)(f: Long => T): Future[Unit] =
      Future {
        writeOne(spark.range(rows).as[Long].mapPartitions(_.map(f)).toDF(), name)
        println(s"GEN $name rows=$rows")
      }

    val jobs = Seq(
      Future {
        writeOne(Seq(Region(0, "AFRICA"), Region(1, "AMERICA"), Region(2, "ASIA"),
          Region(3, "EUROPE"), Region(4, "MIDDLE EAST")).toDF(), "region")
        writeOne((0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDF(), "nation")
        println("GEN region+nation")
      },
      gen("customer", nCust) { id =>
        val r = rng(1001, id)
        Customer(id, f"Customer#$id%09d", r.nextInt(25), r2(-1000 + r.nextDouble() * 11000),
          segments(r.nextInt(5)))
      },
      gen("supplier", nSupp) { id =>
        val r = rng(2001, id)
        Supplier(id, f"Supplier#$id%09d", r.nextInt(25), r2(r.nextDouble() * 10000))
      },
      gen("part", nPart) { id =>
        val r = rng(3001, id)
        Part(id, s"${adjs(r.nextInt(adjs.length))} ${nouns(r.nextInt(nouns.length))}",
          s"Brand#${1 + r.nextInt(25)}", ptypes(r.nextInt(6)), 1 + r.nextInt(50),
          r2(900 + (id % 1000) * 0.1))
      },
      gen("orders", nOrders) { id =>
        val r = rng(4001, id)
        Order(id, if (skew) zipfDraw(r, nCust) else r.nextLong(nCust),
          "FOP".charAt(r.nextInt(3)).toString,
          r2(1000 + r.nextDouble() * 499000), dayTs(r.nextInt(2400)),
          priorities(r.nextInt(5)))
      },
      gen("lineitem", nLine) { id =>
        val r = rng(5001, id)
        Lineitem(if (skew) zipfDraw(r, nOrders) else r.nextLong(nOrders),
          if (skew) zipfDraw(r, nPart) else r.nextLong(nPart), r.nextLong(nSupp),
          1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, r2(r.nextDouble() * 100000),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR".charAt(r.nextInt(3)).toString, "FO".charAt(r.nextInt(2)).toString,
          dayTs(1 + r.nextInt(2500)))
      },
      gen("events", nEvents) { id =>
        val r = rng(6001, id)
        Event(id, microTs(ev0micros + id * evSpacing + r.nextLong(30000000L)),
          if (skew) zipfDraw(r, nUsers) else r.nextLong(nUsers),
          etypes(r.nextInt(5)), r2(r.nextDouble() * 560),
          s"""{"k": ${r.nextInt(100)}}""")
      },
      gen("documents", nDocs) { id =>
        val r = rng(7003, id)
        val text = docText(id)
        val enPct = if (skew) 90 else 41 // skew: one fat (lang, len) block family
        val lang = if (r.nextInt(100) < enPct) "en" else langs(1 + r.nextInt(4))
        val source = if (skew) s"src${zipfDraw(r, 20)}" else s"src${id % 20}"
        Doc(id, text, lang, source, text.length.toLong)
      },
      gen("embeddings", nEmb)(embRow))

    Await.result(Future.sequence(jobs), Duration.Inf)
    println(s"""{"gen":"done","dir":"$outDir","sf":$sf}""")
    spark.stop()
  }
}
