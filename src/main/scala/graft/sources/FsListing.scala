package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The ONE definition of "the data files under a staging root" — shared
  * by [[FileManifest]]'s tree-listing verbs (build, vacuum, a first
  * commit's stray-file check) and [[IncrementalLedger]]'s delta
  * selection, which must agree on it (a divergence silently
  * reclassifies files between "metadata" and "unconsumed input").
  */
private[graft] object FsListing {

  /** Canonical path text. Spark's `input_file_name()` emits
    * percent-ENCODED `file:///x` URIs (a space is `%20`) while Hadoop's
    * listing prints `file:/x` with literal characters — and
    * `spark.read` treats its path strings literally, so an encoded
    * `%20` handed back to a read resolves to a literal `"%20"`
    * directory. Decode URI-shaped strings through `Path(URI)` so both
    * comparisons and reads see one form.
    */
  def norm(s: String): String = {
    val p =
      try new Path(new java.net.URI(s))
      catch { case _: Exception => new Path(s) }
    p.toString
  }

  /** Every data file under `root`, RECURSIVELY (staging trees are
    * partitioned — a top-level listing sees no files at all), hidden
    * paths excluded, each path [[norm]]-canonical, sorted. Safe to hand
    * to `spark.read` and to compare against norm'd
    * `input_file_name()`/ledger entries.
    */
  def listDataFiles(fs: FileSystem, root: Path): Seq[String] = {
    val b = Seq.newBuilder[String]
    // manual listStatus recursion, NOT fs.listFiles(root, true): the
    // recursive iterator returns LocatedFileStatus — block locations
    // fetched per file — which measured ~4ms/file on LocalFileSystem
    // (~4s to list a 1000-file table, paid at EVERY index construction).
    // Plain FileStatus listing is two orders cheaper, and nothing here
    // needs locations. Hidden (underscore/dot) subtrees are skipped at
    // the DIRECTORY level too, so a 10k-file table's `_versions` never
    // even lists.
    def walk(dir: Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else b += norm(st.getPath.toString)
        }
      }
    walk(root)
    b.result().sorted
  }

  /** The bloom-sidecar key contract: types whose cast-to-long is
    * value-preserving, so build-side storage and probe-side Catalyst
    * literals agree on the hashed value. Shared by the builder's
    * require and the index's probe eligibility check.
    */
  def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
    case _ => false
  }
}
