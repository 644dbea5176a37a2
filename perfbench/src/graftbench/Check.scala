package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}

/** Reference computations for the correctness checks. None of them calls
  * graft: they re-derive the expected values from the definitions.
  */
object Check {
  /** graft's text normalization: lowercase, non-alphanumerics to spaces */
  def tokens(text: String): Array[String] =
    text.toLowerCase.replaceAll("[^a-z0-9]+", " ").replaceAll(" +", " ").trim.split(" ")

  /** distinct word n-gram shingles (one shingle when shorter than n) */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = tokens(text)
    if (t.length < n) Set(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  /** SimHash over md5-derived 60-bit token hashes: bit j is set when more
    * tokens have it set than not
    */
  def simhash(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](60)
    tokens(text).foreach { tok =>
      val hex = md.digest(tok.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      (0 until 60).foreach(j => votes(j) += (if (((h >> j) & 1L) == 1L) 1 else -1))
    }
    (0 until 60).foldLeft(0L)((acc, j) => if (votes(j) > 0) acc | (1L << j) else acc)
  }

  /** node -> smallest node id reachable from it */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(n => n -> find(n)).toMap
  }

  /** rows of `a` missing from `b` plus rows of `b` missing from `a` */
  def symmetricDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  def rowSet(rows: Array[Row]): Set[Seq[Any]] = rows.map(_.toSeq).toSet

  def sha256(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }

  /** the version `_CURRENT` points at under a committed warehouse dir */
  def committedVersion(dir: String): Long =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "_CURRENT")), UTF_8).trim.toLong
}
