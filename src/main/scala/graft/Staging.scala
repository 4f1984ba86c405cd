package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.concurrent.TrieMap

/** Session-scoped staging: the one memo for build-once artifacts and
  * the registry of the directories they live in.
  *
  * Memo policy (`memo`): a staged artifact — a bucketed index table,
  * a roundtrip tree, a streaming source or checkpoint, a learned
  * quantizer — is built once per key and reused for the life of the
  * JVM; an empty `cacheKey` builds fresh on every call, which is what
  * the equality specs use. The key is `(site, cacheKey, params)`:
  *   - `site` names the operator that stages (e.g. "k21", "st02"), so
  *     two operators handed the same `cacheKey` never share an entry;
  *   - `cacheKey` names the input (the harness passes the dataset
  *     dir) — the CALLER OWNS KEY UNIQUENESS: a different input under
  *     the same key is served the first input's artifact;
  *   - `params` are the build's sizing dials, plus the `SparkSession`
  *     when the artifact (a DataFrame, a catalog table) is bound to a
  *     session, so a later session never resurrects a stopped one's.
  * The build runs outside any lock (`TrieMap.getOrElseUpdate`), so it
  * may call another memoized stage, and a build that throws leaves no
  * entry — the next call builds again.
  *
  * Directory registry (`dir`): staged directories are allocated here
  * instead of by `Files.createTempDirectory` directly. Memoized dirs
  * live as long as the JVM — per-call deletion would defeat the memo
  * — but a long-lived session must not leave the trees behind after
  * exit. One JVM shutdown hook deletes everything allocated through
  * this registry; a crash leaves at most the standard tmp-reaper
  * situation, which per-call cleanup could not improve on either.
  *
  * The hook registers through Hadoop's ShutdownHookManager at a
  * priority below Spark's (SparkContext stops at 50, its temp dirs
  * at 25), so staged trees — streaming checkpoints, bucketed table
  * paths — are deleted only AFTER Spark's own stop/commit hooks have
  * finished with them; a raw Runtime hook would race them unordered.
  */
object Staging {
  private val dirs = TrieMap.empty[Path, Unit]
  private val memos = TrieMap.empty[(String, String, Seq[Any]), Any]

  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
    dirs.keys.foreach { root =>
      try {
        val walk = Files.walk(root)
        try
          walk.sorted(Comparator.reverseOrder[Path]()).forEach { p =>
            try Files.deleteIfExists(p)
            catch { case _: Exception => () }
          }
        finally walk.close()
      } catch { case _: Exception => () }
    }
  }, 10) // below Spark's temp-dir priority (25): run after Spark stops

  /** A fresh temp directory, deleted (recursively) at JVM exit. */
  def dir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    dirs.put(p, ())
    p.toString
  }

  /** `build` once per `(site, cacheKey, params)`; fresh on every call
    * when `cacheKey` is empty.
    */
  def memo[V](site: String, cacheKey: String, params: Any*)(build: => V): V =
    if (cacheKey.isEmpty) build
    else memos.getOrElseUpdate((site, cacheKey, params), build).asInstanceOf[V]

  /** Spec access: what `memo` holds for the key, without building. */
  private[graft] def staged[V](site: String, cacheKey: String,
      params: Any*): Option[V] =
    memos.get((site, cacheKey, params)).map(_.asInstanceOf[V])
}
