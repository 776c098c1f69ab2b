package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way to share a materialized frame across queries: an EAGER
  * `localCheckpoint` per (application, name, snapshot dir), built on
  * first use and handed back to every later caller. The catalog's
  * shared subtrees (the verified sketch pairs, the planted gram frame,
  * the IVF centroids, the clean and solo held-out frames) go through
  * here instead of each keeping its own memo map.
  *
  *   - Keyed by `applicationId:name:dir`: the dir is an immutable
  *     snapshot (the [[Tables.rowCount]] contract), and the appId keeps
  *     a dead context's blocks from leaking into a fresh one.
  *   - Eager, so the pin is materialized by exactly one job before any
  *     consumer plans over it. A lazy pin is materialized by whichever
  *     action reaches it first, and concurrent AQE task waves (or
  *     [[Report]]'s parallel panels) race to compute the same blocks.
  *   - The map only stores a holder; the build runs in the holder's
  *     `lazy val`, outside the map's bin lock. A build may therefore
  *     read another pin (the solo frame reads the clean frame), and
  *     concurrent callers of one key wait for a single materialization.
  *   - A build that throws leaves the holder unset, so the next call
  *     builds again: failures are not cached.
  *
  * Every build is a deterministic function of its snapshot, so reading
  * a pin cannot differ from rebuilding it. */
object Pins {

  private final class Pin(build: () => DataFrame) {
    lazy val frame: DataFrame = build().localCheckpoint()
  }

  private val pins = new java.util.concurrent.ConcurrentHashMap[String, Pin]()

  private[graft] def shared(s: SparkSession, name: String, dir: String)(
      build: => DataFrame): DataFrame =
    pins.computeIfAbsent(s"${s.sparkContext.applicationId}:$name:$dir",
      _ => new Pin(() => build)).frame
}
