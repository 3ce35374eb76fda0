package graft

import graft.model.Transaction
import graft.pipeline.MergeSortSink
import graft.sources._

/** CLI mirroring the reference driver (`index.js:48-106`):
  * `graft.Main <freetrade|ii|fidelity|bullionvault> <csv-or-folder> [out]`
  * — parse, merge with the existing sink, sort chronologically, overwrite. */
object Main {

  /** Reference-parity pre-check (`index.js:66-71`): the bullionvault path
    * must be a directory holding at least one `.eml` (case-insensitive,
    * like the reference's toLowerCase().endsWith check), validated BEFORE
    * reading so an empty folder fails with the reference's friendly
    * message instead of Spark's path-matching AnalysisException from the
    * glob scan. Returns the error message, None when valid. */
  private[graft] def bullionVaultFolderError(f: java.io.File): Option[String] =
    if (!f.isDirectory) Some(s"Expected a folder of .eml files: ${f.getPath}")
    else if (!f.listFiles().exists(_.getName.toLowerCase.endsWith(".eml")))
      Some(s"Folder '${f.getPath}' does not contain any .eml files")
    else None
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val distinct = flags.contains("--distinct")
    if (positional.length < 2 || positional.length > 3 || !flags.forall(_ == "--distinct")) {
      System.err.println("Usage: graft.Main <freetrade|ii|fidelity|bullionvault> <path> [out=data.txt] [--distinct]")
      sys.exit(1)
    }
    val Array(kind, path) = positional.take(2)
    val out = if (positional.length == 3) positional(2) else "data.txt"

    val spark = GraftSession.local()

    val f = new java.io.File(path)
    if (!f.exists()) { System.err.println(s"No such file or folder: $path"); sys.exit(1) }

    val canonical = kind.toLowerCase match {
      case "freetrade" => FreetradeSource.readFile(spark, path)
      case "ii" => IISource.readFile(spark, path)
      case "fidelity" => FidelitySource.readFile(spark, path)
      case "bullionvault" =>
        bullionVaultFolderError(f).foreach { msg =>
          System.err.println(msg); sys.exit(1)
        }
        BullionVaultSource.readFolder(spark, path)
      case other => System.err.println(s"Unknown type: $other"); sys.exit(1); null
    }

    val lines = Transaction.toLines(canonical)
    val sorted = MergeSortSink.mergeSortWrite(spark, lines, out, distinct = distinct)
    println(s"Wrote ${sorted.size} transactions to $out")
    sorted.take(5).foreach(println)
    if (sorted.size > 5) println(s"... and ${sorted.size - 5} more")
    spark.stop()
  }
}
