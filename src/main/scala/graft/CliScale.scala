package graft

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.model.Transaction
import graft.pipeline.MergeSortSink
import graft.sources._

/** CLI-SCALE probe: the reference's whole lifecycle
  * (`/root/reference/index.js:48-122` — parse one broker export, merge with
  * the existing sink, chronologically sort, overwrite) driven over a
  * generated ~1M-line corpus mixed across ALL FOUR sources, with the
  * DISTRIBUTED sink ([[MergeSortSink.writeSorted]]: a range-partitioned
  * global sort in the first round, then a merge into the previous round's
  * parts; directory-of-parts output, no driver collect) instead of
  * the single-file CLI-parity path. Each round's sink output is the next
  * round's "existing" side, exactly like re-running the reference CLI per
  * broker. Verifies on read-back:
  *   - row count == sum of rows each parser keeps,
  *   - byte format: every line matches `KIND DD/MM/YYYY ASSET n n n`,
  *   - global chronological order: per-part sortedness checked
  *     distributedly; cross-part boundaries via each part's first/last
  *     date (part files are range-partitioned, so filename order IS sort
  *     order).
  * Prints one JSON line with per-phase seconds (recorded in PLANS.md).
  *
  * Usage: runMain graft.CliScale [workDir] [scale]   (scale=1 → ~1M lines)
  */
object CliScale {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def rng(salt: Long, id: Long) = new java.util.SplittableRandom(mix(salt * 31 + id))

  private val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private val monthsFull = Array("January", "February", "March", "April",
    "May", "June", "July", "August", "September", "October", "November", "December")

  /** Deterministic broker-export fixtures. Sizes at scale=1:
    * freetrade 500k rows (~1% statements, dropped), ii 300k (~1% fee rows,
    * dropped), fidelity 198k (+8-line preamble, ~1% Cash In, dropped),
    * bullionvault 2k emails — ~1M total lines. */
  private[graft] def genFixtures(dir: String, scale: Double): (Long, Long, Long, Long) = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    def n(base: Long) = math.max(1L, (base * scale).toLong)
    val (nFt, nIi, nFid, nBv) = (n(500000), n(300000), n(198000), n(2000))

    var keptFt = 0L
    locally {
      val w = Files.newBufferedWriter(Paths.get(dir, "freetrade.csv"), UTF_8)
      w.write("Title,Type,Timestamp,Account Currency,Buy / Sell,Ticker,ISIN," +
        "Price per Share in Account Currency,Stamp Duty,Quantity,FX Fee Amount\n")
      var i = 0L
      while (i < nFt) {
        val r = rng(11, i)
        if (r.nextInt(100) == 0)
          w.write(s"Statement,MONTHLY_STATEMENT,2021-0${1 + r.nextInt(9)}-15T00:00:00.000Z,GBP,,,,,,,\n")
        else {
          val kind = if (r.nextBoolean()) "BUY" else "SELL"
          val y = 2015 + r.nextInt(9); val mo = 1 + r.nextInt(12); val day = 1 + r.nextInt(28)
          val ts = f"$y-$mo%02d-$day%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00.000Z"
          val isin = f"GB00B${r.nextInt(1000000)}%06dX"
          val qty = 1 + r.nextInt(500)
          val px = (100 + r.nextInt(90000)) / 100.0
          val stamp = if (kind == "BUY") f"${r.nextInt(500) / 100.0}%.2f" else ""
          val fx = if (r.nextInt(4) == 0) f"${r.nextInt(300) / 100.0}%.2f" else ""
          w.write(s"Order,ORDER,$ts,GBP,$kind,TKR${i % 97},$isin,$px,$stamp,$qty,$fx\n")
          keptFt += 1
        }
        i += 1
      }
      w.close()
    }

    var keptIi = 0L
    locally {
      val w = Files.newBufferedWriter(Paths.get(dir, "ii.csv"), UTF_8)
      w.write("Settlement Date,Symbol,Sedol,Quantity,Price,Debit,Credit\n")
      var i = 0L
      while (i < nIi) {
        val r = rng(13, i)
        if (r.nextInt(100) == 0)
          w.write(s"${1 + r.nextInt(28)}/${1 + r.nextInt(12)}/201${r.nextInt(10)},,,n/a,n/a,£${r.nextInt(20)}.99,n/a\n")
        else {
          val buy = r.nextBoolean()
          val date = s"${1 + r.nextInt(28)}/${1 + r.nextInt(12)}/${2015 + r.nextInt(9)}"
          val qty = 1 + r.nextInt(400)
          val px = f"£${(100 + r.nextInt(50000)) / 100.0}%.2f"
          val total = f"${qty * 5.0}%.2f"
          val (debit, credit) = if (buy) (total, "n/a") else ("n/a", total)
          w.write(s"$date,SYM${i % 89},SD${i % 53}L,${if (buy) qty else -qty},$px,$debit,$credit\n")
          keptIi += 1
        }
        i += 1
      }
      w.close()
    }

    var keptFid = 0L
    locally {
      val w = Files.newBufferedWriter(Paths.get(dir, "fidelity.csv"), UTF_8)
      (1 to 7).foreach(k => w.write(s"Preamble line $k\n"))
      w.write("Order date,Completion date,Transaction type,Investments,Product Wrapper," +
        "Account Number,Source investment,Amount,Quantity,Price per unit,Reference Number,Status\n")
      var i = 0L
      while (i < nFid) {
        val r = rng(17, i)
        val date = s"${1 + r.nextInt(28)} ${months(r.nextInt(12))} ${2015 + r.nextInt(9)}"
        if (r.nextInt(100) == 0)
          w.write(s"$date,$date,Cash In,,ISA,ACC1,,100.00,,,REF$i,Complete\n")
        else {
          val buy = r.nextBoolean()
          val amt = (100 + r.nextInt(900000)) / 100.0 * (if (buy) 1 else -1)
          val qty = (1 + r.nextInt(90000)) / 100.0
          val px = (100 + r.nextInt(40000)) / 100.0
          val typ = if (buy) "Buy" else "Sell"
          w.write(s"$date,$date,$typ,Fidelity Index Fund ${i % 31},ISA,ACC1,,$amt,$qty,$px,REF$i,Complete\n")
          keptFid += 1
        }
        i += 1
      }
      w.close()
    }

    locally {
      val ed = Paths.get(dir, "emails")
      Files.createDirectories(ed)
      var i = 0L
      while (i < nBv) {
        val r = rng(19, i)
        val buy = r.nextBoolean()
        val metal = if (r.nextBoolean()) "Gold" else "Silver"
        val qty = (1 + r.nextInt(2000)) / 1000.0
        val px = 30000 + r.nextInt(20000)
        val consider = f"${qty * px}%.2f"
        val comm = f"${qty * px * 0.005}%.2f"
        val date = s"${1 + r.nextInt(28)} ${monthsFull(r.nextInt(12))} ${2015 + r.nextInt(9)}"
        val t = f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
        val body =
          s"""Subject: Dealing advice
             |Security: $metal stored in Zurich
             |Summary: ${if (buy) "Buy" else "Sell"} $qty kg @ GBP $px /kg
             |Consideration: GBP $consider
             |Commission: GBP $comm
             |Deal time: $date $t BST
             |""".stripMargin
        Files.writeString(ed.resolve(f"deal$i%05d.eml"), body)
        i += 1
      }
    }
    (keptFt, keptIi, keptFid, nBv)
  }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft-cli-scale")
    val scale = if (args.length > 1) args(1).toDouble else 1.0
    val spark = GraftSession.local()
    import spark.implicits._

    def secs[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val ((kFt, kIi, kFid, kBv), tGen) = secs(genFixtures(workDir, scale))
    val expected = kFt + kIi + kFid + kBv

    // the reference lifecycle, one broker per round, previous sink as the
    // existing side — distributed end to end (no driver collect anywhere)
    val rounds: Seq[(String, () => Dataset[String])] = Seq(
      "freetrade" -> (() => Transaction.toLines(FreetradeSource.readFile(spark, s"$workDir/freetrade.csv"))),
      "ii" -> (() => Transaction.toLines(IISource.readFile(spark, s"$workDir/ii.csv"))),
      "fidelity" -> (() => Transaction.toLines(FidelitySource.readFile(spark, s"$workDir/fidelity.csv"))),
      "bullionvault" -> (() => Transaction.toLines(BullionVaultSource.readFolder(spark, s"$workDir/emails"))))

    // the first round reads back a sink that does not exist yet (empty)
    var sinkDir = s"$workDir/empty"
    val phases = rounds.zipWithIndex.map { case ((name, fresh), i) =>
      val out = s"$workDir/sink_$i"
      val (_, t) = secs(MergeSortSink.writeSorted(
        MergeSortSink.merge(MergeSortSink.readExisting(spark, sinkDir), fresh()), out))
      sinkDir = out
      name -> t
    }

    // ---- read-back verification (distributed) ---------------------------
    val (okCount, badFormat, badOrder, tVerify) = {
      val t0 = System.nanoTime()
      val back = spark.read.textFile(sinkDir)
      val total = back.count()
      val lineRe = "^(BUY|SELL) \\d{2}/\\d{2}/\\d{4} \\S+ -?\\d+(\\.\\d+)?([eE][+-]?\\d+)? \\d+(\\.\\d+)?([eE][+-]?\\d+)? \\d+(\\.\\d+)?([eE][+-]?\\d+)?$"
      val nBadFmt = back.filter(!col("value").rlike(lineRe)).count()
      // per-part sortedness + boundary order: parts are range-partitioned
      import scala.jdk.CollectionConverters._
      val listing = Files.list(Paths.get(sinkDir))
      val partFiles = try listing.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toVector.sortBy(_.toString)
        finally listing.close()
      def dkey(line: String): String = {
        val d = line.split(" ")(1).split("/")
        d(2) + d(1) + d(0)
      }
      var nBadOrder = 0L
      var prevLast: String = null
      partFiles.foreach { p =>
        val ds = spark.read.textFile(p.toString).map(dkey).collect() // one part at a time, bounded
        if (ds.nonEmpty) {
          nBadOrder += ds.sliding(2).count(w => w.length == 2 && w(0) > w(1))
          if (prevLast != null && prevLast > ds.head) nBadOrder += 1
          prevLast = ds.last
        }
      }
      (total, nBadFmt, nBadOrder, (System.nanoTime() - t0) / 1e9)
    }

    val pass = okCount == expected && badFormat == 0L && badOrder == 0L
    // Locale.ROOT: the f-interpolator honors the default locale, and a
    // comma-decimal locale would print "1,23" into the JSON line.
    def f2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val phaseJson = phases.map { case (k, v) => s""""$k":${f2(v)}""" }.mkString(",")
    println(s"""{"metric":"cli_scale","pass":$pass,"lines":$okCount,"expected":$expected,"bad_format":$badFormat,"bad_order":$badOrder,"gen_sec":${f2(tGen)},$phaseJson,"verify_sec":${f2(tVerify)}}""")
    require(pass, s"CLI-scale verification failed: lines=$okCount/$expected badFormat=$badFormat badOrder=$badOrder")
    spark.stop()
  }
}
