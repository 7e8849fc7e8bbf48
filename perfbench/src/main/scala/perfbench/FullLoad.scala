package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import graft.etl.TaskRunner
import graft.schema.TableDef

/** The full-load phase of the DMS task: a headerless CSV source written from
  * generated rows, loaded with `TaskRunner.runFullLoad`, and checked
  * envelope by envelope.
  */
object FullLoad {
  val FilesPerTable = 4

  type Source = Seq[(TableDef, Seq[GenRow])]

  /** Writes the source as headerless CSV, `FilesPerTable` files per table. */
  def write(root: Path, src: Source): Unit = src.foreach { case (t, rows) =>
    val dir = root.resolve(t.path)
    Files.createDirectories(dir)
    rows.grouped(math.max(1, (rows.size + FilesPerTable - 1) / FilesPerTable)).zipWithIndex.foreach {
      case (part, i) =>
        val body = part.iterator.map(_.csvFields.mkString(",")).mkString("", "\n", "\n")
        Files.write(dir.resolve(f"LOAD${i + 1}%08d.csv"), body.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** One load task; returns its wall seconds. */
  def load(c: Ctx, runner: TaskRunner, src: Path): Double = {
    val t0 = System.nanoTime()
    c.tracer.span("full_load.task")(runner.runFullLoad(src.toString))
    (System.nanoTime() - t0) / 1e9
  }

  /** Checks the `load` envelopes among `lines`: one strict-parsing envelope
    * per source row, under the table's partition key, whose `data` equals
    * the generated row. Returns the number of rows that failed.
    */
  def check(r: Result, src: Source, lines: Seq[Envelopes.Line]): Long = {
    val byName = src.map { case (t, rows) => t.name -> (t, rows) }.toMap
    val seen = mutable.HashMap.empty[(String, Long), Int]
    val bad = mutable.HashSet.empty[(String, Long)]
    lines.filter(_.envelope.contains("\"operation\":\"load\"")).foreach { l =>
      Envelopes.parse(l.envelope) match {
        case None => r.problem(s"load envelope does not parse: ${l.envelope.take(200)}")
        case Some(env) =>
          val table = Envelopes.meta(env, "table-name")
          byName.get(table) match {
            case None => r.problem(s"load envelope for unknown table $table")
            case Some((t, rows)) =>
              val fields = Envelopes.data(env)
              val id = fields.headOption.flatMap(f => Option(f._2)).flatMap(_.toLongOption).getOrElse(-1L)
              val key = (table, id)
              seen(key) = seen.getOrElse(key, 0) + 1
              val ok = id >= 1 && id <= rows.size &&
                l.partitionKey == t.qualifiedName &&
                matches(t, rows((id - 1).toInt), fields)
              if (!ok) bad += key
          }
      }
    }
    val missing = src.map { case (t, rows) => (1L to rows.size).count(i => seen.getOrElse((t.name, i), 0) != 1) }.sum
    val failed = missing + bad.count(k => seen.getOrElse(k, 0) == 1)
    if (failed > 0) r.problem(s"$failed full-load rows failed")
    failed
  }

  /** Envelope `data` against the generated row: same column names in order,
    * ids as numbers, strings verbatim, the DATETIME column as that day.
    */
  private def matches(t: TableDef, row: GenRow, fields: Seq[(String, String)]): Boolean =
    fields.map(_._1) == t.columns.map(_.name) &&
      t.columns.zip(fields).zip(row.values).forall { case ((col, (_, got)), want) =>
        if (col.dmsType == "DATETIME") got != null && got.startsWith(want) else got == want
      }
}
