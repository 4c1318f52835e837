package graft.plans

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** The source-staleness guard shared by the planner rules
  * ([[AnnIndexRewrite]], [[AggRewrite]], [[ConstraintRewrite]]): one
  * instance per rule owns "are this registration's source files still
  * the snapshot it was built from?".
  *
  * A registration (ANN index, MV, aggregate join view, verified key
  * claim) is a SNAPSHOT claim: splicing it into a scan whose files
  * changed since registration would silently drop new rows (or
  * resurrect deleted ones) from a query whose exact plan sees them —
  * the one way the "acceleration never changes results" contract can
  * break without any code being wrong. [[take]] fingerprints each of
  * the key's source paths at registration; [[stale]] revalidates
  * lazily at plan time, at most once per `spark.graft.staleness.intervalMs`
  * (default 10 s) per key — at 100 TB a table may hold 10⁵ files and
  * listing on EVERY plan event would be the new bottleneck.
  *
  * The verdict is three-way:
  * - fresh: the rule proceeds;
  * - verified change (a successful listing disagrees with the
  *   snapshot): the registration is dropped through the caller's
  *   `drop`, [[droppedStale]] counts it, and the plan stays exact;
  * - unknown (a transient listing failure — a 503, a race with a
  *   concurrent committer): THIS plan declines (the exact plan is the
  *   safe side) but the registration is kept and re-checked after the
  *   interval, or sooner after [[resetVerdicts]].
  *
  * A source that cannot be fingerprinted at registration (exotic
  * scheme, listing error) keeps the guard OFF for that key rather than
  * blocking the registration.
  */
final class SourceSnapshots(family: String) extends Logging {
  import SourceSnapshots._

  // key → listing fingerprint per normalized source path
  private val snapshots = TrieMap.empty[String, Map[String, Long]]
  // key → (lastCheckedNanos, wasFresh)
  private val verdicts = TrieMap.empty[String, (Long, Boolean)]

  /** Registrations dropped because their source files changed after
    * registration (the staleness self-heal).
    */
  val droppedStale = new AtomicLong(0)

  /** Snapshot `paths` as the sources of the registration `key`. */
  def take(key: String, paths: Seq[String], session: SparkSession): Unit = {
    try snapshots.put(key, fingerprints(paths, session))
    catch { case _: Exception => snapshots.remove(key) }
    verdicts.remove(key)
  }

  def forget(key: String): Unit = { snapshots.remove(key); verdicts.remove(key) }

  def clear(): Unit = { snapshots.clear(); verdicts.clear() }

  /** Drop the memoized verdicts WITHOUT touching any snapshot — the
    * retry-once path of [[PlannerPin]]: a cached transient decline
    * would otherwise outlive the failure for a whole interval.
    */
  def resetVerdicts(): Unit = verdicts.clear()

  /** True when the registration `key` must not be used for this plan.
    * `paths` are the scan's FULL paths (scheme + authority intact —
    * listing a scheme-stripped path against the default FileSystem
    * would misresolve s3a/hdfs sources). On a verified change the
    * snapshot is forgotten and `drop` removes the registration.
    */
  def stale(key: String, paths: Seq[String], session: SparkSession)(drop: => Unit): Boolean =
    snapshots.get(key) match {
      case None => false // unfingerprintable at registration: guard off
      case Some(snap) =>
        val now = System.nanoTime()
        verdicts.get(key) match {
          case Some((t, fresh)) if now - t < intervalMs * 1000000L => !fresh
          case _ =>
            val verdict: Option[Boolean] =
              try Some(fingerprints(paths, session) == snap)
              catch { case _: Exception => None } // transient: unknown
            val fresh = verdict.getOrElse(false)
            verdicts.put(key, (now, fresh))
            val where = paths.mkString(" / ")
            verdict match {
              case Some(false) =>
                forget(key)
                drop
                droppedStale.incrementAndGet()
                logWarning(s"graft $family rewrite: source files under $where changed " +
                  "since registration — dropping the stale registration and keeping " +
                  "the exact plan (re-register after rebuilding it)")
              case None =>
                logWarning(s"graft $family rewrite: could not re-list $where to verify " +
                  "registration freshness — keeping the exact plan for this check " +
                  "interval and retrying (registration kept)")
              case Some(true) => ()
            }
            !fresh
        }
    }
}

object SourceSnapshots {

  /** The registry key form of a source path: scheme and authority
    * stripped, so `file:/t` and `/t` name the same registration.
    */
  def normalize(path: String): String = new Path(path).toUri.getPath

  /** Scan root path of a V1 parquet leaf — what `spark.read.parquet`
    * yields under the default `spark.sql.sources.useV1SourceList`.
    */
  def pathOf(leaf: LogicalPlan): Option[Path] = leaf match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.headOption
      case _ => None
    }
    case _ => None
  }

  private def intervalMs: Long =
    SQLConf.get.getConfString("spark.graft.staleness.intervalMs", "10000").toLong

  private def fingerprints(paths: Seq[String], session: SparkSession): Map[String, Long] =
    paths.map(p => normalize(p) -> fingerprint(p, session)).toMap

  /** Order-independent fingerprint of a directory's file listing
    * (path, length, modTime per data file). Hidden/metadata files
    * (`_SUCCESS`, `.crc`) are excluded — committers rewrite them
    * without touching data.
    */
  private def fingerprint(path: String, session: SparkSession): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(session.sparkContext.hadoopConfiguration)
    var acc = 0L
    def walk(dir: Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else {
            // commutative mix (sum of per-file hashes): listing order
            // must not matter
            var h = 1125899906842597L
            (st.getPath.toUri.getPath + "|" + st.getLen + "|" + st.getModificationTime)
              .foreach(c => h = h * 31 + c)
            acc += h
          }
        }
      }
    walk(p)
    acc
  }
}
