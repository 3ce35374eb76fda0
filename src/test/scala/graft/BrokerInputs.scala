package graft

import java.nio.file.Files

/** Writes a spec's broker input to temp files, so the spec reads it through
  * the sources' `readFile` / `readFolder`: the reads `graft.Main` runs. */
object BrokerInputs {

  /** One export file holding `content`; returns its path. */
  def file(content: String): String = {
    val p = Files.createTempFile("graft-export", ".csv")
    Files.writeString(p, content)
    p.toString
  }

  /** A folder holding one `.eml` file per email, named in email order;
    * returns its path. */
  def emailFolder(emails: String*): String = {
    val dir = Files.createTempDirectory("graft-eml")
    emails.zipWithIndex.foreach { case (e, i) => Files.writeString(dir.resolve(f"email$i%03d.eml"), e) }
    dir.toString
  }
}
