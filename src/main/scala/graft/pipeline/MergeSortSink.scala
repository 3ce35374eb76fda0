package graft.pipeline

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{DateTimeException, LocalDate}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.expr.Parse.failUnless

/** The reference's sink lifecycle (`index.js:108-122`): read back the existing
  * `data.txt`, bag-union with freshly parsed lines, sort everything
  * chronologically, overwrite the sink.
  *
  * Semantics preserved:
  *  - U1 union is union-ALL — the reference's comment claims dedup but no Set
  *    is built (`index.js:110` vs `:115`); duplicates survive re-runs. Parity
  *    is the default; `distinct = true` honors the stated (dead) intent.
  *  - O1 sort parses token[1] of each line as D/M/YYYY and fails fast on any
  *    missing/unparsable date (`index.js:12-36`). JS `Array.sort` is stable,
  *    so same-date lines keep insertion order (existing-sink lines before new
  *    lines, each in file order and then line order) — Spark's sort is not
  *    stable, so `merge` carries that order as an explicit secondary key.
  *    File order is the part-file name order of a sink directory (Spark reads
  *    a directory's files largest first, so the key restores it) and the
  *    folder order of an email folder (`CsvSupport.readEmails`).
  *
  * Merge path: a sink directory that `writeSorted` wrote is range-sorted —
  * its `part-*` files, in name order, are sorted runs in date order. When
  * the existing side of `writeSorted(merge(readExisting(spark, dir), fresh),
  * out)` is such a directory, `writeSorted` does not sort it again. The
  * driver reads each part's first date (no job); a partitioner routes each
  * fresh line to the last part whose first date is ≤ its date (earlier
  * lines to the first part), so there is no range-sample job; only the
  * fresh lines are shuffled and sorted; one task per part merges the
  * part's lines with its route, existing lines first on equal dates, into
  * the same part of `out`. The result equals the full sort line for line.
  *
  * It falls back to the full sort when `out` is the existing directory or
  * one above it (the overwrite would delete the parts before they are
  * read), when the directory holds anything but uncompressed `part-*.txt`
  * files (hidden files aside) or no line, when its parts' first dates are
  * not in order, and when a merge task finds a line that is not in the
  * strict `DD/MM/YYYY` form, out of order, or outside its part's range. The
  * full sort then raises today's error for an invalid date. Empty parts are
  * skipped.
  *
  * The single-file `data.txt` write (`mergeSortWrite`) is inherently serial
  * and exists only for cgtcalc CLI parity.
  */
object MergeSortSink {

  /** On `readExisting`'s plan: the directory it reads. */
  private val ExistingDir = TreeNodeTag[String]("graft.existingDir")
  /** On `merge`'s union: the existing directory and the keyed fresh lines. */
  private val SinkSides = TreeNodeTag[(String, DataFrame)]("graft.sinkSides")

  private val StrictDate = """(\d\d)/(\d\d)/(\d\d\d\d)""".r

  /** A merge task found the existing side not range-sorted. */
  private final class NotRangeSorted(msg: String) extends Exception(msg)

  /** Read existing sink lines: trim, drop blanks (`index.js:109-113`,
    * filter F4); empty dataset when the file does not exist. */
  def readExisting(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
      val lines = spark.read.textFile(path).map(_.trim).filter(_.nonEmpty)
      lines.queryExecution.logical.setTagValue(ExistingDir, path)
      lines
    } else spark.emptyDataset[String]
  }

  /** Attach the stability key `seq` = (src, file, row): `src` 0 for existing
    * lines and 1 for fresh ones (`index.js:115`'s concatenation order), then
    * the input file name, then `monotonically_increasing_id` for the row
    * order within a file. All three are computed in the plan, so merging
    * runs no Spark job; a source with no input file (the email folder's
    * driver-side rows) keys on row order alone. */
  def merge(existing: Dataset[String], fresh: Dataset[String]): DataFrame = {
    def keyed(lines: Dataset[String], src: Int): DataFrame =
      lines.toDF("line").select(col("line"), struct(lit(src).as("src"),
        input_file_name().as("file"), monotonically_increasing_id().as("row")).as("seq"))
    val freshKeyed = keyed(fresh, 1)
    val merged = keyed(existing, 0).union(freshKeyed)
    existing.queryExecution.logical.getTagValue(ExistingDir).foreach(dir =>
      merged.queryExecution.logical.setTagValue(SinkSides, (dir, freshKeyed)))
    merged
  }

  /** A line's date, token[1] as D/M/YYYY; fails the job when it is missing
    * or unparsable (`index.js:12-36`). */
  private def lineDate(line: Column): Column = {
    val tok = split(line, " ").getItem(1)
    val d = try_to_date(tok, "d/M/yyyy")
    failUnless(d, tok.isNotNull && d.isNotNull, concat(lit("Invalid or missing date in line: "), line))
  }

  /** Chronological sort with fail-fast date validation (`index.js:12-36`).
    *
    * Intentional divergence on calendar-invalid dates: the reference's sort
    * comparator builds `new Date(y, m-1, d)`, so a line like `31/2/2024`
    * (which `ii.js:98-109` passes through unvalidated) silently rolls over to
    * 2 Mar 2024 and the run completes. Here `try_to_date` rejects it and the
    * merge aborts — we prefer failing on a date that does not exist over
    * emulating JS rollover arithmetic; real broker exports never hit this. */
  def sortLines(merged: DataFrame): Dataset[String] = {
    import merged.sparkSession.implicits._
    merged
      .withColumn("_d", lineDate(col("line")))
      .orderBy(col("_d"), col("seq"))
      .select($"line").as[String]
  }

  /** Full lifecycle: read-back → union(-all) → sort → single-file overwrite of
    * `path` (exact `data.txt` naming, `index.js:120-122`). Returns the sorted
    * lines. Bounded collect: personal-broker-export scale by design. */
  def mergeSortWrite(spark: SparkSession, fresh: Dataset[String], path: String,
                     distinct: Boolean = false): Seq[String] = {
    val existing = readExisting(spark, path)
    // seq is assigned BEFORE any dedup so first-occurrence order is stable;
    // groupBy(line).min(seq) alone dedups in --distinct mode (a pre-distinct
    // would shuffle fresh lines and make their seq nondeterministic).
    val unioned = merge(existing, fresh)
    val deduped = if (distinct) {
      // keep first occurrence per line content (lowest seq)
      unioned.groupBy("line").agg(min("seq").as("seq"))
    } else unioned
    val sorted = sortLines(deduped).collect().toSeq
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      sorted.mkString("", "\n", "\n"))
    sorted
  }

  /** Distributed sink for at-scale outputs: a directory of part files, no
    * driver collect. Merges into the existing sink when `merged` came from
    * `merge(readExisting(spark, dir), fresh)` over a range-sorted sink
    * directory; otherwise a range-partitioned global sort. */
  def writeSorted(merged: DataFrame, outDir: String): Unit = {
    val mergedInto = merged.queryExecution.logical.getTagValue(SinkSides)
      .exists { case (dir, fresh) => mergeInto(dir, fresh, outDir) }
    if (!mergedInto) sortLines(merged).write.mode("overwrite").text(outDir)
  }

  /** The merge path of [[writeSorted]]; false when it does not apply. */
  private def mergeInto(dir: String, fresh: DataFrame, outDir: String): Boolean = {
    val spark = fresh.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(dir)
    val fs = src.getFileSystem(conf)
    val srcQ = fs.makeQualified(src)
    val out = new Path(outDir)
    val outQ = out.getFileSystem(conf).makeQualified(out)
    val outHoldsSrc = Iterator.iterate(srcQ)(_.getParent).takeWhile(_ != null).contains(outQ)
    val entries = fs.listStatus(srcQ).filterNot(s => s.getPath.getName.startsWith("_") ||
      s.getPath.getName.startsWith("."))
    val isPart = entries.forall(s => s.isFile && s.getPath.getName.startsWith("part-") &&
      s.getPath.getName.endsWith(".txt"))
    if (outHoldsSrc || !isPart) return false

    def first(p: Path): Option[String] = {
      val in = open(fs, p)
      try partLines(in).nextOption() finally in.close()
    }
    val parts = entries.map(_.getPath).sortBy(_.getName)
      .flatMap(p => first(p).map(l => (p.toString, strictDay(l))))
    if (parts.isEmpty || parts.exists(_._2.isEmpty)) return false
    val (paths, bounds) = (parts.map(_._1), parts.map(_._2.get))
    if (bounds.zip(bounds.tail).exists { case (a, b) => a > b }) return false

    val hadoopConf = new SerializableConfiguration(conf)
    // an RDD shuffle, so there are as many routes as parts even when the
    // optimizer knows the fresh side is empty
    val byRoute = new Partitioner {
      def numPartitions: Int = parts.length
      def getPartition(key: Any): Int = routeOf(bounds, key.asInstanceOf[(Int, String, Long)]._1)
    }
    val routes = fresh
      .select(unix_date(lineDate(col("line"))), col("seq.file"), col("seq.row"), col("line"))
      .as[(Int, String, Long, String)].rdd
      .map { case (d, file, row, l) => ((d, file, row), l) }
      .repartitionAndSortWithinPartitions(byRoute)
    val mergedParts = routes.mapPartitionsWithIndex { (i, routed) =>
      val hi = if (i + 1 < bounds.length) bounds(i + 1) else Int.MaxValue
      val path = new Path(paths(i))
      val in = open(path.getFileSystem(hadoopConf.value), path)
      TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
      var last = bounds(i)
      val existing = partLines(in).map { l =>
        val d = strictDay(l).filter(d => d >= last && d <= hi)
          .getOrElse(throw new NotRangeSorted(s"$path: $l"))
        last = d
        (l, d)
      }.buffered
      val freshLines = routed.map { case ((d, _, _), l) => (l, d) }.buffered
      new Iterator[String] {
        def hasNext: Boolean = existing.hasNext || freshLines.hasNext
        def next(): String = (if (!freshLines.hasNext ||
          existing.hasNext && existing.head._2 <= freshLines.head._2) existing else freshLines).next()._1
      }
    }
    try {
      spark.createDataset(mergedParts).write.mode("overwrite").text(outDir)
      true
    } catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[NotRangeSorted]) => false
    }
  }

  private def open(fs: FileSystem, p: Path): BufferedReader =
    new BufferedReader(new InputStreamReader(fs.open(p), UTF_8))

  /** A part's lines as `readExisting` reads them: a leading BOM dropped (as
    * Hadoop's line reader does), trimmed, blank lines skipped. */
  private def partLines(in: BufferedReader): Iterator[String] = {
    val first = Option(in.readLine()).map(_.stripPrefix("\uFEFF"))
    (first.iterator ++ Iterator.continually(in.readLine()).takeWhile(_ != null))
      .map(_.trim).filter(_.nonEmpty)
  }

  /** Epoch day of a line's token[1] in the strict `DD/MM/YYYY` form (year
    * 1 on), which `lineDate` parses to the same day; None otherwise. */
  private def strictDay(line: String): Option[Int] = line.split(" ", 3) match {
    case Array(_, StrictDate(d, m, y), _*) if y != "0000" =>
      try Some(LocalDate.of(y.toInt, m.toInt, d.toInt).toEpochDay.toInt)
      catch { case _: DateTimeException => None }
    case _ => None
  }

  /** The last part whose first day is ≤ `day`; the first part for earlier
    * days. */
  private def routeOf(bounds: Array[Int], day: Int): Int = {
    var (lo, hi) = (0, bounds.length)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= day) lo = mid + 1 else hi = mid
    }
    math.max(lo - 1, 0)
  }
}
