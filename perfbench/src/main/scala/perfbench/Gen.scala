package perfbench

import java.util.SplittableRandom
import graft.cdc.{CdcParser, CdcRecord}
import graft.schema.{SelectionRules, TableDef}

/** One generated source row: logical values (what a correct reader must
  * see) and their CSV encoding.
  */
final case class GenRow(table: TableDef, values: Vector[String]) {
  def pk: String = values.head
  def csvFields: Seq[String] = values.map(Gen.csvField)
}

/** A generated CDC change row at its global apply sequence number. */
final case class GenChange(seq: Long, op: String, row: GenRow) {
  def line: String =
    (Seq(op, row.table.name, row.table.owner) ++ row.csvFields).mkString(",")
}

/** Seeded input generator for the two file workloads. Everything is a pure
  * function of the seed: the same seed gives the same files.
  *
  * Value grammar: string columns draw from small vocabularies. In the seed
  * rows (the full-load source) 1 % of string values are `"A, B"` (a
  * CSV-quoted field holding a comma) and 1 % are leading-zero digit strings
  * such as `0042`; the full load reads both correctly. Change rows carry
  * neither: the CDC path splits lines on bare `,` and emits `0042` as a
  * JSON number, so such a row would fail, and every operation here must
  * succeed. Embedded newlines and malformed lines are left out too: today
  * either one stops the CDC stream instead of landing in the exceptions
  * side channel.
  */
object Gen {
  val tables: Seq[TableDef] = SelectionRules.referenceTables
  /** Share of rows per table (employee, department, project). */
  val tableShare: Seq[Double] = Seq(0.5, 0.2, 0.3)

  private val lastNames = Array("Smith", "Jones", "Garcia", "Miller", "Davis", "Lopez", "Wilson",
    "Anderson", "Taylor", "Thomas", "Moore", "Martin", "Jackson", "White", "Harris", "Clark")
  private val firstNames = Array("Bob", "Alice", "Carol", "Dave", "Erin", "Frank", "Grace",
    "Heidi", "Ivan", "Judy", "Mallory", "Niaj", "Olivia", "Peggy", "Rupert", "Sybil")
  private val cities = Array("New York", "Los Angeles", "Dallas", "Chicago", "Houston",
    "Phoenix", "Seattle", "Denver", "Boston", "Atlanta", "Miami", "Portland")
  private val words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")
  private val departments = words.map(w => s"$w dept")
  private val projects = words.map(w => s"Project $w")
  private val descriptions = for (a <- words.take(8); b <- words.drop(8)) yield s"$a $b work"

  /** CSV encoding: values holding a comma are quoted (no value holds a quote). */
  def csvField(v: String): String = if (v.contains(',')) "\"" + v + "\"" else v

  private def pick(r: SplittableRandom, a: Array[String]) = a(r.nextInt(a.length))

  /** One string value; `quoting` admits the quoted-comma and leading-zero
    * values.
    */
  private def str(r: SplittableRandom, vocab: Array[String], quoting: Boolean): String = {
    val u = if (quoting) r.nextDouble() else 1.0
    if (u < 0.01) s"${pick(r, vocab)}, ${pick(r, vocab)}"
    else if (u < 0.02) "0" + (1 + r.nextInt(999)).toString
    else pick(r, vocab)
  }

  private def date(r: SplittableRandom): String =
    f"${2000 + r.nextInt(24)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"

  /** A full row image for `t` with primary key `id`. */
  def row(r: SplittableRandom, t: TableDef, id: Long, quoting: Boolean): GenRow = {
    def s(vocab: Array[String]) = str(r, vocab, quoting)
    val rest: Vector[String] = t.name match {
      case "employee" => Vector(s(lastNames), s(firstNames), date(r), s(cities))
      case "department" => Vector(s(departments))
      case "project" => Vector(s(projects), s(descriptions))
    }
    GenRow(t, id.toString +: rest)
  }

  private def split(total: Int): Seq[Int] = tableShare.map(s => math.max(1, (total * s).toInt))

  /** Zipf(s) sampler over ranks 0..n-1, ranks mapped through a seeded
    * permutation so the hot keys are spread over the id space.
    */
  final class Zipf(n: Int, s: Double, r: SplittableRandom) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); w(i) = acc; i += 1 }
      w.map(_ / acc)
    }
    private val perm = {
      val p = Array.tabulate(n)(identity)
      var i = n - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
      p
    }
    def next(): Int = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      perm(math.min(i, n - 1))
    }
  }

  /** CDC inputs: the seed state (`stateRows` rows over the three tables, ids
    * 1..n) and `files` change files of `rowsPerFile` rows each, numbered
    * from 1. Ops are 70 % UPDATE, 15 % INSERT and 15 % DELETE; each op's key
    * is drawn Zipf(1.1) over the table's seeded key space, so hot keys see
    * every op type and some ops hit a missing or existing key (apply
    * exceptions, as DMS records them).
    */
  final case class Cdc(seedState: Seq[GenRow], files: Vector[Vector[GenChange]])

  def cdc(seed: Long, stateRows: Int, files: Int, rowsPerFile: Int): Cdc = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val sizes = split(stateRows)
    val seedState = tables.zip(sizes).flatMap { case (t, n) =>
      (1 to n).map(i => row(r, t, i.toLong, quoting = true))
    }
    val zipfs = sizes.map(n => new Zipf(n, 1.1, r))
    val cum = tableShare.scanLeft(0.0)(_ + _).tail
    val fs = Vector.tabulate(files) { f =>
      Vector.tabulate(rowsPerFile) { i =>
        val u = r.nextDouble()
        val ti = { val k = cum.indexWhere(u < _); if (k < 0) tables.size - 1 else k }
        val t = tables(ti)
        val id = zipfs(ti).next() + 1L
        val v = r.nextDouble()
        val op = if (v < 0.70) CdcParser.OpUpdate else if (v < 0.85) CdcParser.OpInsert else CdcParser.OpDelete
        GenChange(fileSeq(f + 1, i + 1), op, row(r, t, id, quoting = false))
      }
    }
    Cdc(seedState, fs)
  }

  /** The engine's sequence number for row `row` (1-based) of file `file`. */
  def fileSeq(file: Int, row: Int): Long = file * 1000000L + row

  def fileName(file: Int): String = f"cdc$file%010d.csv"

  def seedRecords(rows: Seq[GenRow]): Seq[CdcRecord] =
    rows.map(g => CdcRecord(0L, CdcParser.OpLoad, g.table.owner, g.table.name, g.pk, g.values))
}
