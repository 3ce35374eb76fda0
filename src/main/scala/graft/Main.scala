package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Transaction
import graft.pipeline.MergeSortSink
import graft.sources._

/** CLI mirroring the reference driver (`index.js:48-106`):
  * `graft.Main <freetrade|ii|fidelity|bullionvault> <csv-or-folder> [out]`
  * — parse, merge with the existing sink, sort chronologically, overwrite.
  * Every input check runs in [[check]], before the Spark session starts. */
object Main {

  /** A checked run: the broker's read of its input, the sink, dedup or not. */
  private[graft] final case class Run(read: SparkSession => DataFrame, out: String, distinct: Boolean)

  /** The run `args` ask for, or the message it fails with. The checks come
    * in the reference's order (`index.js:48-77`): the arguments, then that
    * the path exists, then what the broker needs there, then the broker
    * name. A CSV broker needs a regular file. BullionVault needs a directory
    * holding at least one `.eml` (case-insensitive, like the reference's
    * `toLowerCase().endsWith` check). Reads only file metadata. */
  private[graft] def check(args: Array[String]): Either[String, Run] = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    if (positional.length < 2 || positional.length > 3 || !flags.forall(_ == "--distinct"))
      return Left("Usage: graft.Main <freetrade|ii|fidelity|bullionvault> <path> [out=data.txt] [--distinct]")
    val Array(kind, path) = positional.take(2)
    val f = new java.io.File(path)
    def csv(read: (SparkSession, String) => DataFrame) =
      if (f.isFile) Right(read) else Left(s"Expected a CSV file: $path")
    val read =
      if (!f.exists()) Left(s"No such file or folder: $path")
      else kind.toLowerCase match {
        case "freetrade" => csv(FreetradeSource.readFile)
        case "ii" => csv(IISource.readFile)
        case "fidelity" => csv(FidelitySource.readFile)
        case "bullionvault" =>
          if (!f.isDirectory) Left(s"Expected a folder of .eml files: ${f.getPath}")
          else if (!f.listFiles().exists(_.getName.toLowerCase.endsWith(".eml")))
            Left(s"Folder '${f.getPath}' does not contain any .eml files")
          else Right(BullionVaultSource.readFolder _)
        case other => Left(s"Unknown type: $other")
      }
    read.map(r => Run(r(_, path), positional.lift(2).getOrElse("data.txt"), flags.contains("--distinct")))
  }

  def main(args: Array[String]): Unit = {
    val run = check(args).fold({ msg => System.err.println(msg); sys.exit(1) }, identity)
    val spark = GraftSession.local()
    val lines = Transaction.toLines(run.read(spark))
    val sorted = MergeSortSink.mergeSortWrite(spark, lines, run.out, distinct = run.distinct)
    println(s"Wrote ${sorted.size} transactions to ${run.out}")
    sorted.take(5).foreach(println)
    if (sorted.size > 5) println(s"... and ${sorted.size - 5} more")
    spark.stop()
  }
}
