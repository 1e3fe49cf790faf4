package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** A heavy artifact that several registered queries read: the stages of
  * one pipeline, a model fit, a decoded media feature table. In
  * production each would be persisted once and fanned out, so the query
  * surface does the same: `apply` builds the artifact at most once per
  * (session, dir) and hands every later caller that same value, which is
  * driver-held state or a checkpointed DataFrame.
  *
  * `warmer` forces the artifact under its name. Bench and perfbench run
  * the warmers in a separately timed pass, so a one-off build is never
  * charged to whichever consumer query runs first, and per-query numbers
  * stay attributable across registry reorders.
  *
  * Read a handle only inside a query's `fn` or a `def`: while its object
  * is still initializing, a handle declared further down is null. Never
  * capture one in a task closure: the memo holds DataFrames and is not
  * serializable.
  */
final class Artifact[A](val name: String, build: (SparkSession, String) => A) {
  private val memo = TrieMap.empty[(String, String), A]

  def apply(s: SparkSession, dir: String): A =
    memo.getOrElseUpdate((s.sparkContext.applicationId, dir), build(s, dir))

  def warmer: (String, (SparkSession, String) => Unit) =
    name -> ((s: SparkSession, dir: String) => { apply(s, dir); () })
}

object Artifact {
  def apply[A](name: String)(build: (SparkSession, String) => A): Artifact[A] =
    new Artifact(name, build)
}
