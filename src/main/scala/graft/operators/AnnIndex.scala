package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED ANN INDEX STATE — IVF centroids and PQ codebooks as governed
  * catalog tables instead of session memos.
  *
  * Why: an index is MODEL STATE derived from an expensive training pass;
  * holding it only in a SessionMemo means every new engine session (every
  * driver restart, every separate job of a pipeline) silently retrains —
  * at 100 TB that is a full sample-collect + k-means per session, and
  * worse, two sessions can train subtly different models if the corpus
  * moved between them. The production shape (FAISS index files, Milvus
  * segments, Lucene HNSW graphs) is: the index is a PERSISTED ARTIFACT
  * that VERSIONS WITH THE CORPUS. Here that means:
  *
  *  - each model lives in `<lake catalog>.ann.<name>` as a plain
  *    governed-lake table of `(k1 BIGINT, k2 BIGINT, v STRING)` rows
  *    (`v` = comma-joined `Double.toString`/`Float.toString` components —
  *    lossless round-trip by the Java shortest-representation contract,
  *    so reloaded models are BIT-IDENTICAL to trained ones and every
  *    golden pin survives a reload);
  *  - the table carries a SNAPSHOT SENTINEL row (`k1 = -1`) recording the
  *    corpus listing signature (name + length + mtime of every corpus
  *    file, hashed) it was trained against, appended in the SAME write as
  *    the model rows — index and its provenance publish atomically;
  *  - on load the sentinel is checked against the LIVE corpus listing:
  *    a corpus that advanced past the index fails LOUDLY (a stale ANN
  *    index silently returns wrong neighbors — the one failure mode a
  *    retrieval stack must never soft-degrade into); the remedy is an
  *    explicit `DROP TABLE` + re-run, which retrains and re-records.
  *
  * The per-(session, table) memo on top only caches the LOAD (one
  * bounded read + one signature check per session), never the training —
  * OperatorInvariantSpec pins that a fresh load path does not retrain. */
private[graft] object AnnIndex {

  /** Build (= training) invocations — spec seam: reload paths must not
    * bump it. */
  private[graft] val trainCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  private val memo = new graft.SessionMemo[(String, String), DataFrame]
  private val collected = new graft.SessionMemo[(String, String), Array[Row]]

  /** Spec seam: drop this session's cached loads and collected models —
    * the in-memory state an engine restart has (catalog tables on disk,
    * nothing in memory). */
  private[graft] def dropSessionMemo(s: SparkSession): Unit = {
    memo.evict(s); collected.evict(s)
  }

  /** Corpus snapshot signature: SHA-256 over the sorted
    * (name, length, mtime) listing of the embeddings corpus under `d`. */
  private[graft] def corpusSig(d: String): String = {
    val p = new org.apache.hadoop.fs.Path(d, "embeddings.parquet")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      p.toUri, new org.apache.hadoop.conf.Configuration())
    val st = fs.getFileStatus(p)
    val entries =
      (if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st))
        .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    entries.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Load the persisted model table `ann.<name>` of `d`'s lake catalog —
    * verifying its recorded corpus snapshot against the live corpus — or
    * build it via `build` (rows `(k1, k2, v)`, k1 >= 0) and persist it
    * with the snapshot sentinel. Returns the model rows (sentinel
    * filtered out). */
  def loadOrBuild(s: SparkSession, d: String, name: String)(
      build: () => DataFrame): DataFrame =
    memo.computeIfAbsent(s, (d, name), _ => {
      val cat = Relational.s30Lake(s, d)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ann")
      val tbl = s"$cat.ann.$name"
      val sig = corpusSig(d)
      var exists = s.sql(s"SHOW TABLES IN $cat.ann").collect()
        .exists(_.getString(1) == name)
      if (exists && s.table(tbl).isEmpty) {
        // a crash between CREATE TABLE and the model append leaves an
        // empty shell; the state is unambiguously "no model", so heal it
        // here instead of requiring a manual DROP on every later load
        s.sql(s"DROP TABLE $tbl")
        exists = false
      }
      if (!exists) {
        trainCounter.incrementAndGet()
        val rows = build()
        s.sql(s"CREATE TABLE $tbl (k1 BIGINT, k2 BIGINT, v STRING)")
        import s.implicits._
        rows.select(col("k1").cast("long"), col("k2").cast("long"), col("v"))
          .unionByName(Seq((-1L, 0L, sig)).toDF("k1", "k2", "v"))
          .writeTo(tbl).append()
      }
      val t = s.table(tbl)
      val stored = t.filter(col("k1") === -1L).select(col("v")).collect()
      require(stored.length == 1,
        s"ann index $tbl: corpus-snapshot sentinel row missing or duplicated")
      if (stored.head.getString(0) != sig)
        throw new IllegalStateException(
          s"ann index $tbl was trained on corpus snapshot " +
            s"${stored.head.getString(0).take(12)}… but the live corpus is " +
            s"${sig.take(12)}… — the corpus advanced past the index. A stale " +
            s"ANN index silently returns wrong neighbors, so this is a loud " +
            s"refusal: DROP TABLE $tbl and re-run to retrain against the " +
            "current corpus.")
      t.filter(col("k1") >= 0L)
    })

  /** [[loadOrBuild]]'s model rows collected to the driver once per
    * session — for models that are bounded by construction (the PQ
    * codebooks: M × K rows) and that query builders read on every call,
    * so a warm build launches no collect job. */
  def loadRows(s: SparkSession, d: String, name: String)(
      build: () => DataFrame): Array[Row] =
    collected.computeIfAbsent(s, (d, name), _ => loadOrBuild(s, d, name)(build).collect())
}
