package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Generated MyDumper-style dump directories.
  *
  * Row CONTENT is a pure function of the row index (fixed content
  * seed), so every workload seed imports the same typed rows; the
  * workload seed only decides LAYOUT: which rows go to which file, in
  * which order, and (for `many_tables`) how the rows split into
  * tables. The program under test sees nothing but the files.
  */
object Fixtures {

  val Db = "bench"

  /** SplitMix64 finalizer: a stateless per-(row, field) hash. */
  private def mix(a: Long, b: Long, salt: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Field `f` of row `i`, uniform in 0 until n. */
  def pick(i: Long, f: Int, n: Int, salt: Long = 0x2545F4914F6CDD1DL): Int =
    java.lang.Math.floorMod(mix(i, f, salt), n.toLong).toInt

  private val Words = Array("furiously", "carefully", "quickly", "slyly", "blithely",
    "final", "regular", "express", "pending", "ironic", "bold", "even", "special",
    "deposits", "requests", "accounts", "packages", "theodolites", "pinto", "beans",
    "foxes", "ideas", "platelets", "asymptotes", "dependencies", "instructions",
    "across", "above", "along", "among", "sleep", "wake", "haggle", "nag", "boost")

  private def words(i: Long, f: Int, maxLen: Int): String = {
    val sb = new StringBuilder
    var k = 0
    val n = 2 + pick(i, f, 6)
    while (k < n) {
      val w = Words(pick(i, f * 31 + k, Words.length))
      if (sb.length + 1 + w.length <= maxLen) {
        if (sb.nonEmpty) sb.append(' ')
        sb.append(w)
      }
      k += 1
    }
    sb.toString
  }

  private def cents(v: Long): String = {
    val a = math.abs(v)
    (if (v < 0) "-" else "") + (a / 100) + "." + f"${a % 100}%02d"
  }

  private val Epoch1992 = java.time.LocalDate.of(1992, 1, 2).toEpochDay
  private def date(d: Long): String = java.time.LocalDate.ofEpochDay(Epoch1992 + d).toString

  // ---------------------------------------------------------------- lineitem

  val LineitemDdl: String =
    """CREATE TABLE `lineitem` (
      |  `l_orderkey` bigint NOT NULL,
      |  `l_partkey` bigint NOT NULL,
      |  `l_suppkey` bigint NOT NULL,
      |  `l_linenumber` int NOT NULL,
      |  `l_quantity` decimal(15,2) NOT NULL,
      |  `l_extendedprice` decimal(15,2) NOT NULL,
      |  `l_discount` decimal(15,2) NOT NULL,
      |  `l_tax` decimal(15,2) NOT NULL,
      |  `l_returnflag` char(1) NOT NULL,
      |  `l_linestatus` char(1) NOT NULL,
      |  `l_shipdate` date NOT NULL,
      |  `l_commitdate` date NOT NULL,
      |  `l_receiptdate` date NOT NULL,
      |  `l_shipinstruct` char(25) NOT NULL,
      |  `l_shipmode` char(10) NOT NULL,
      |  `l_comment` varchar(44) NOT NULL,
      |  PRIMARY KEY (`l_orderkey`,`l_linenumber`)
      |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;
      |""".stripMargin

  private val Instruct = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val Modes = Array("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")

  /** Lineitem row `i` as (numeric-or-quoted) field tokens; strings are
    * marked by a leading quote so both writers can render them.
    */
  def lineitem(i: Long): Array[String] = {
    val qty = 1 + pick(i, 3, 50)
    val part = 1 + pick(i, 1, 20000)
    val price = qty.toLong * (90000 + part % 20001 + pick(i, 4, 100))
    val ship = pick(i, 9, 2400).toLong
    Array(
      (i / 4 + 1).toString, part.toString, (1 + pick(i, 2, 1000)).toString,
      (i % 4 + 1).toString, cents(qty * 100L), cents(price),
      cents(pick(i, 5, 11).toLong), cents(pick(i, 6, 9).toLong),
      "'" + "RAN".charAt(pick(i, 7, 3)), "'" + "OF".charAt(pick(i, 8, 2)),
      "'" + date(ship), "'" + date(ship + pick(i, 10, 90) - 30), "'" + date(ship + 1 + pick(i, 11, 30)),
      "'" + Instruct(pick(i, 12, Instruct.length)), "'" + Modes(pick(i, 13, Modes.length)),
      "'" + words(i, 14, 44))
  }

  // ---------------------------------------------------------------- customer

  def customerDdl(table: String): String =
    s"""CREATE TABLE `$table` (
       |  `c_custkey` bigint NOT NULL,
       |  `c_name` varchar(25) NOT NULL,
       |  `c_address` varchar(40) NOT NULL,
       |  `c_nationkey` int NOT NULL,
       |  `c_phone` char(15) NOT NULL,
       |  `c_acctbal` decimal(15,2) NOT NULL,
       |  `c_mktsegment` char(10) NOT NULL,
       |  `c_comment` varchar(117) NOT NULL,
       |  PRIMARY KEY (`c_custkey`)
       |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;
       |""".stripMargin

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val AddrChars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ,"

  def customer(i: Long): Array[String] = {
    val key = i + 1
    val nation = pick(i, 21, 25)
    val addr = new StringBuilder
    (0 until 10 + pick(i, 22, 25)).foreach(k => addr.append(AddrChars.charAt(pick(i, 100 + k, AddrChars.length))))
    Array(key.toString, "'" + f"Customer#$key%09d", "'" + addr.toString.trim, nation.toString,
      "'" + f"${10 + nation}%d-${100 + pick(i, 23, 900)}%d-${100 + pick(i, 24, 900)}%d-${1000 + pick(i, 25, 9000)}%d",
      cents(pick(i, 26, 1100000).toLong - 100000L), "'" + Segments(pick(i, 27, Segments.length)),
      "'" + words(i, 28, 117))
  }

  // ---------------------------------------------------------------- writers

  private def sqlValue(t: String): String =
    if (t.startsWith("'")) t + "'" else t

  private def csvValue(t: String): String =
    if (t.startsWith("'")) "\"" + t.substring(1) + "\"" else t

  /** INSERT dump of `rows`, `perStmt` tuples per statement (mydumper's shape). */
  def writeSql(out: Path, table: String, rows: Iterator[Array[String]], perStmt: Int = 200): Unit =
    withOut(out) { o =>
      var n = 0
      rows.foreach { r =>
        val tuple = r.map(sqlValue).mkString("(", ",", ")")
        val lead = if (n % perStmt == 0) {
          (if (n > 0) ";\n" else "") + s"INSERT INTO `$table` VALUES\n"
        } else ",\n"
        o.write(lead.getBytes(UTF_8))
        o.write(tuple.getBytes(UTF_8))
        n += 1
      }
      if (n > 0) o.write(";\n".getBytes(UTF_8))
    }

  /** Headerless CSV, strings quoted, in the default MySQL dialect. */
  def writeCsv(out: Path, rows: Iterator[Array[String]]): Unit =
    withOut(out) { o =>
      rows.foreach(r => o.write((r.map(csvValue).mkString(",") + "\n").getBytes(UTF_8)))
    }

  private def withOut(p: Path)(f: OutputStream => Unit): Unit = {
    val o = new BufferedOutputStream(new FileOutputStream(p.toFile), 1 << 20)
    try f(o) finally o.close()
  }

  // ---------------------------------------------------------------- layouts

  /** Seeded Fisher-Yates permutation of 0 until n. */
  def permutation(n: Int, seed: Long): Array[Int] = {
    val rnd = new SplittableRandom(seed)
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** A skewed split of `total` rows over `tables` tables (log-normal
    * weights, every table at least `minRows`).
    */
  def sizeSplit(total: Int, tables: Int, minRows: Int, seed: Long): Array[Int] = {
    val rnd = new java.util.Random(seed)
    val w = Array.fill(tables)(math.exp(1.2 * rnd.nextGaussian()))
    val spare = total - tables * minRows
    val sizes = w.map(x => minRows + (spare * x / w.sum).toInt)
    sizes(0) += total - sizes.sum
    sizes
  }

  def schemaCreate(dir: Path): Unit =
    Files.writeString(dir.resolve(s"$Db-schema-create.sql"), s"CREATE DATABASE IF NOT EXISTS `$Db`;\n")

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val w = Files.walk(dir)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally w.close()
    }

  /** Order-sensitive digest (name, bytes) of every file under `dir`:
    * equal digests mean byte-identical fixtures.
    */
  def dirDigest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val w = Files.walk(dir)
    try w.filter(Files.isRegularFile(_)).sorted().forEach { p =>
      md.update(dir.relativize(p).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    } finally w.close()
    md.digest().map(b => f"$b%02x").mkString
  }
}
