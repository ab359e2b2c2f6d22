package perfbench

import org.apache.spark.sql.Row

import scala.util.hashing.MurmurHash3

/** What an operation returned, reduced to an order-independent digest:
  * the row count, the sum of per-row hashes and the result schema. */
final case class Digest(rows: Long, hash: String, schema: String)

/** The expected digest of one operation instance. `hash = None` marks an
  * operation whose output is not bit-stable across runs of the same code:
  * it is checked on row count and schema only. */
final case class Expected(rows: Long, hash: Option[String], schema: String) {
  def accepts(d: Digest): Boolean =
    rows == d.rows && schema == d.schema && hash.forall(_ == d.hash)
}

object Checks {

  /** Digest of rows already collected into the client: the sum of a hash of
    * each row's printed values. */
  def digestRows(rows: Seq[Row], schema: String): Digest = {
    var acc = BigInt(0)
    rows.foreach(r => acc += MurmurHash3.stringHash(r.mkString("\u0001")))
    Digest(rows.length.toLong, acc.toString, schema)
  }

  // --- the expected-digest file: one line per operation instance,
  //     `key<TAB>rows<TAB>hash-or-*<TAB>schema`

  def load(path: java.nio.file.Path): Map[String, Expected] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, n, h, s) = l.split("\t", 4)
        k -> Expected(n.toLong, if (h == "*") None else Some(h), s)
      }.toMap

  def save(path: java.nio.file.Path, header: String,
           m: Map[String, Expected]): Unit = {
    val lines = m.toSeq.sortBy(_._1).map { case (k, e) =>
      s"$k\t${e.rows}\t${e.hash.getOrElse("*")}\t${e.schema}"
    }
    java.nio.file.Files.writeString(path,
      (header.linesIterator.map("# " + _).toSeq ++ lines).mkString("", "\n", "\n"))
  }
}
