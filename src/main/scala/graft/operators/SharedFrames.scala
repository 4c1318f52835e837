package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** The one owner of per-(session, key) shared state: the builds a
  * session's queries share (pair lists, the retrieval index, trained
  * codebooks, planner registrations, read schemas), each built once and
  * served to every later query of that session.
  *
  * A [[Slot]] is one typed cache whose release step is declared next to
  * its build:
  * {{{
  * val pairs = SharedFrames.slot[DataFrame]("ngramPairs", _.unpersist(false))
  * pairs(spark, dir) { build }
  * }}}
  *
  * The first caller of a key owns its build; the others wait on its
  * future. No build runs under a map lock, so a build may call other
  * slots (and planning may re-enter) without blocking unrelated keys. A
  * failed build leaves no entry: the waiters get its exception and the
  * next call retries. [[clear]] releases every entry exactly once; one
  * still building is released when its build finishes.
  */
object SharedFrames extends Logging {

  final class Slot[V] private[SharedFrames] (val name: String, release: V => Unit) {

    /** The value built for (`spark`, `key`), building it on first use. */
    def apply(spark: SparkSession, key: String)(build: => V): V = {
      val k = (this, sessionKey(spark), key)
      var owner = false
      // the mapping function only allocates: the build runs outside it
      val e = entries.computeIfAbsent(k, _ => { owner = true; new Entry(this) })
        .asInstanceOf[Entry[V]]
      if (owner) e.build(k, build) else e.await()
    }

    private[SharedFrames] def releaseLogged(v: V): Unit =
      try release(v)
      catch { case NonFatal(t) => logWarning(s"shared '$name': release failed", t) }
  }

  /** A cache slot; `release` runs once per built entry on [[clear]]. */
  def slot[V](name: String, release: V => Unit = (_: V) => ()): Slot[V] =
    new Slot(name, release)

  private final class Entry[V](slot: Slot[V]) {
    private val value = Promise[V]()
    private val builder = Thread.currentThread()

    def build(k: AnyRef, body: => V): V =
      try { val v = body; value.success(v); v }
      catch {
        case t: Throwable => // handed to every waiter, then retried
          entries.remove(k, this)
          value.failure(t)
          throw t
      }

    def await(): V = value.future.value match {
      case Some(done) => done.get
      case None if builder eq Thread.currentThread() =>
        throw new IllegalStateException(s"shared '${slot.name}': a build asked for its own key")
      case None => Await.result(value.future, Duration.Inf)
    }

    def release(): Unit = value.future.foreach(slot.releaseLogged)(ExecutionContext.parasitic)
  }

  private val entries = new ConcurrentHashMap[(Slot[_], String, String), Entry[_]]()

  /** A UUID minted once per session INSTANCE in an identity-keyed map:
    * unlike an identityHashCode key, which a collected session's
    * successor can alias, it never serves a dead session's frames to a
    * live one. [[clear]] forgets the sessions.
    */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[SparkSession, String]())
  private def sessionKey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  /** Drop every entry of every slot, running each built entry's release
    * exactly once (an in-flight one's when its build finishes).
    */
  def clear(): Unit = {
    entries.forEach((k, e) => if (entries.remove(k, e)) e.release())
    sessionIds.clear()
  }
}
