package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}

/** One line of a `_graft_log` file (`%020d.commit` or
  * `%020d.checkpoint`) as a typed value — the ONE codec of the log's
  * line format: [[read]] parses a file, [[render]] writes it back byte
  * for byte. A file is its lines joined by `\n` (no trailing newline);
  * file names never hold `|` or a newline, and no payload holds a
  * newline. The grammar:
  *  - `+name[|stats]` [[Add]]: a data file enters the live set, with
  *    its column-statistics JSON when recorded;
  *  - `-name` [[Remove]] (commits only): a data file leaves;
  *  - `~name` [[Change]] (commits only): a change (CDC) file the commit
  *    materialized, never live;
  *  - `*file|dv[|n]` [[Dv]]: deletion vector `dv` attaches to a live
  *    file, with its position count `n` when recorded; `*file|-`
  *    ([[Detach]]) detaches;
  *  - `#ts=<ms>` [[Ts]], the in-commit timestamp; `#op=<tag>` [[Op]],
  *    the operation tag (`txn=q:b` / `consumed=v` tags feed the
  *    idempotence ledgers); `#schema=<json>` [[Schema]], the schema
  *    ledger; `#constraint=<tag>` [[Constraint]] and `#property=<tag>`
  *    [[Property]], [[keyed]] tags (`+key:value` sets, `-key` unsets);
  *  - `#txn=q:b`, `#consumed=v` [[Ledger]]: a checkpoint's idempotence
  *    ledgers, carried bare.
  * Any other `#` line (an unknown `#key=` header, a non-numeric `#ts=`)
  * reads as nothing, so an older reader ignores what a newer writer
  * adds; any other line, or a `*` line without its vector or with a
  * non-numeric count, is [[Corrupt]]. */
private[store] sealed trait LogLine

private[store] object LogLine {
  final case class Add(name: String, stats: Option[String]) extends LogLine
  final case class Remove(name: String) extends LogLine
  final case class Change(name: String) extends LogLine
  final case class Dv(file: String, dv: String, rows: Option[Long]) extends LogLine
  final case class Ts(ms: Long) extends LogLine
  final case class Op(tag: String) extends LogLine
  final case class Schema(json: String) extends LogLine
  final case class Constraint(tag: String) extends LogLine
  final case class Property(tag: String) extends LogLine
  final case class Ledger(tag: String) extends LogLine
  final case class Corrupt(line: String) extends LogLine

  val Detach = "-"

  /** A file's lines, parsed lazily from its text (held once, never
    * beside a parsed copy). */
  def read(fs: FileSystem, p: Path): Iterator[LogLine] = {
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    text.linesIterator.filter(_.nonEmpty).flatMap(parse)
  }

  /** One non-empty line; None for a line that reads as nothing. */
  def parse(line: String): Option[LogLine] = {
    val body = line.substring(1)
    line.charAt(0) match {
      case '+' => Some(body.split("\\|", 2) match {
        case Array(name, stats) => Add(name, Some(stats))
        case _ => Add(body, None)
      })
      case '-' => Some(Remove(body))
      case '~' => Some(Change(body))
      case '*' => Some(body.split("\\|", 3) match {
        case Array(file, dv) => Dv(file, dv, None)
        case Array(file, dv, n) if n.toLongOption.isDefined => Dv(file, dv, n.toLongOption)
        case _ => Corrupt(line)
      })
      case '#' => body.split("=", 2) match {
        case Array("ts", v) => v.toLongOption.map(Ts)
        case Array("op", v) => Some(Op(v))
        case Array("schema", v) => Some(Schema(v))
        case Array("constraint", v) => Some(Constraint(v))
        case Array("property", v) => Some(Property(v))
        case Array("txn" | "consumed", _) => Some(Ledger(body))
        case _ => None
      }
      case _ => Some(Corrupt(line))
    }
  }

  /** Refuses a line holding a newline: one line per entry. */
  def render(l: LogLine): String = {
    val s = l match {
      case Add(name, stats) => "+" + name + stats.fold("")("|" + _)
      case Remove(name) => "-" + name
      case Change(name) => "~" + name
      case Dv(file, dv, rows) => s"*$file|$dv" + rows.fold("")("|" + _)
      case Ts(ms) => s"#ts=$ms"
      case Op(tag) => "#op=" + tag
      case Schema(json) => "#schema=" + json
      case Constraint(tag) => "#constraint=" + tag
      case Property(tag) => "#property=" + tag
      case Ledger(tag) => "#" + tag
      case Corrupt(line) => line
    }
    require(!s.exists(c => c == '\n' || c == '\r'), s"log line must be newline-free: ${s.take(80)}")
    s
  }

  def render(lines: IterableOnce[LogLine]): String = lines.iterator.map(render).mkString("\n")

  def setTag(key: String, value: String): String = s"+$key:$value"
  def unsetTag(key: String): String = "-" + key
  def setTags(m: scala.collection.Map[String, String]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (k, v) => setTag(k, v) }

  /** A keyed tag applied to a ledger map; a malformed tag changes
    * nothing. */
  def keyed(m: Map[String, String], tag: String): Map[String, String] =
    if (tag.startsWith("+")) {
      val i = tag.indexOf(':')
      if (i > 1) m + (tag.substring(1, i) -> tag.substring(i + 1)) else m
    } else if (tag.startsWith("-")) m - tag.substring(1)
    else m
}
