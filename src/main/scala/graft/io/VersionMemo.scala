package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets

/** Driver-side state derived from files, loaded once per file version.
  *
  * A value (a model's weights, an index's id column, a file's inferred
  * schema) is stored under a key naming its source locations, together
  * with the version of the files it was loaded from: a digest of every
  * leaf file's path, length and modification time. Each lookup re-lists
  * the locations on the driver — a file-system listing, never a Spark
  * job — and loads again only when that version has moved, so a caller
  * sees a rewrite, an append or an overwrite on its very next call.
  * There is one entry per key (a new version replaces the old one) and
  * at most [[MaxEntries]] keys, the least recently used evicted first,
  * so a loop that reads a new file every cycle cannot grow the memo.
  * A location that does not exist is never memoized: the load runs and
  * reports the missing source itself.
  *
  * Concurrent lookups may load the same version twice; the last one
  * stored wins, and a stale store is replaced on the next lookup,
  * because its version no longer matches the listing.
  */
object VersionMemo {

  /** The number of keys kept. */
  val MaxEntries: Int = 256

  private final case class Entry(version: String, value: Any)

  private val entries =
    new java.util.LinkedHashMap[Any, Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Any, Entry]): Boolean = size > MaxEntries
    }

  /** Keys currently held. */
  private[graft] def size: Int = entries.synchronized(entries.size)

  /** The version of the files under `locations` (paths, directories or
    * globs, listed recursively): a SHA-256 over each leaf file's path,
    * length and modification time. `None` when a location matches
    * nothing.
    */
  def version(spark: SparkSession, locations: Seq[String]): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        st.getPath.getFileSystem(conf).listStatus(st.getPath).toSeq
          .flatMap(leaves)
      else Seq(st)
    val listed = locations.map { loc =>
      val p = new Path(loc)
      Option(p.getFileSystem(conf).globStatus(p)).filter(_.nonEmpty)
        .map(_.toSeq.flatMap(leaves))
    }
    if (listed.exists(_.isEmpty)) None
    else {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      listed.flatten.flatten.map(st =>
          s"${st.getPath}\t${st.getLen}\t${st.getModificationTime}\n")
        .sorted
        .foreach(line => md.update(line.getBytes(StandardCharsets.UTF_8)))
      Some(md.digest().map(b => f"$b%02x").mkString)
    }
  }

  /** The value stored under `key` if `locations` are still at the
    * version it was loaded from; otherwise `load` it and store it. */
  def apply[T](spark: SparkSession, key: Any, locations: Seq[String])
              (load: => T): T =
    version(spark, locations) match {
      case None =>
        entries.synchronized(entries.remove(key))
        load
      case Some(v) =>
        entries.synchronized(Option(entries.get(key)))
          .filter(_.version == v)
          .map(_.value.asInstanceOf[T])
          .getOrElse {
            val value = load
            entries.synchronized(entries.put(key, Entry(v, value)))
            value
          }
    }

  /** [[apply]] for state derived from catalog tables, keyed by `kind`,
    * the tables' locations and this session's catalog. A session caches
    * each table's file listing, so every (re)load first refreshes the
    * tables: the value then comes from the files the version names, and
    * the session's own reads of the tables see them too, even when
    * another session wrote them. A name that is not a catalog table (a
    * temporary view) is refreshed and loaded on every call.
    */
  def table[T](spark: SparkSession, kind: String, tables: Seq[String])
              (load: => T): T = {
    def refreshed: T = {
      tables.foreach(spark.catalog.refreshTable)
      load
    }
    val catalog = spark.sessionState.catalog
    val locations = tables.map { name =>
      scala.util.Try {
        val id = spark.sessionState.sqlParser.parseTableIdentifier(name)
        if (catalog.isTempView(id)) None
        else Some(catalog.getTableMetadata(id).location.toString)
      }.toOption.flatten
    }
    if (locations.exists(_.isEmpty)) refreshed
    else apply(spark, (kind, locations.flatten, catalog),
      locations.flatten)(refreshed)
  }
}
