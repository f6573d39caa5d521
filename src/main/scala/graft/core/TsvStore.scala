package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/**
 * The tab-separated snapshot file behind graft's small control-plane
 * stores (the user registry, the query-metrics tier): one line per
 * row, its first field the row kind, every field escaped so it may
 * carry tabs and newlines. Each owner keeps only its own row kinds;
 * this object owns the escaping, the line reader and the publish.
 */
object TsvStore {

  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"; case '\t' => "\\t"; case '\n' => "\\n"; case '\r' => "\\r"
    case c => c.toString
  }
  private def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => b += '\\'; case 't' => b += '\t'; case 'n' => b += '\n'; case 'r' => b += '\r'
          case o => b += o
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** Every line of `path` as its unescaped fields (trailing empty
    * fields dropped, as `split` does); empty when there is no file. */
  def read(spark: SparkSession, path: String): Seq[Array[String]] = {
    val p = new Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) Seq.empty
    else {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(f.open(p), UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map(_.split('\t').map(unesc)).toVector
      finally in.close()
    }
  }

  /** Publish `rows` as the whole of `path`: staged to a private temp
    * file, then an atomic overwrite rename, so a reader sees the old
    * snapshot or the new one, never a torn one. */
  def write(spark: SparkSession, path: String, rows: IterableOnce[Seq[String]]): Unit = {
    val p = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val stage = new Path(path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = p.getFileSystem(conf).create(stage, true)
    try {
      val sb = new StringBuilder
      rows.iterator.foreach(r => sb.append(r.map(esc).mkString("\t")).append('\n'))
      out.write(sb.toString.getBytes(UTF_8))
    } finally out.close()
    FileContext.getFileContext(p.toUri, conf).rename(stage, p, Options.Rename.OVERWRITE)
  }
}
