package perfbench

import java.nio.file.{Files, Path}

/** Pinned output digests (`checksum/rows/bytes` of the order-independent
  * CRC64-XOR table checksum), one per import content and per pair query.
  * They were taken from the program as it stood when the benchmark was
  * defined; the pair-query results were also compared with the DuckDB
  * oracle SQL of `graft.SparkEntry.oracleSql`. A failed check names the
  * digest the run got, which is what a new pin in `pins.properties` would
  * hold.
  */
object Pins {
  private val pins = new java.util.Properties()

  def load(file: Path): Unit =
    if (Files.exists(file)) {
      val r = Files.newBufferedReader(file)
      try pins.load(r) finally r.close()
    }

  def check(key: String, got: String): Seq[String] =
    Option(pins.getProperty(key)) match {
      case None => Seq(s"$key: digest $got, no pinned digest")
      case Some(want) if want == got => Nil
      case Some(want) => Seq(s"$key: digest $got, pinned $want")
    }
}
