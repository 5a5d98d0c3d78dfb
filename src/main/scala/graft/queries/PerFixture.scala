package graft.queries

import java.util.concurrent.ConcurrentHashMap

/** Fixture-derived artifacts (lake chains, catalog tables, ANN indexes,
  * corpus stats, stream splits, bucketed and partitioned copies), each
  * built at most once per JVM and fixture dir and reused by every later
  * query on that dir. Verify, Bench and the perfbench warm-up pass
  * therefore pay each build once, and repeated runs measure the
  * amortized read or search cost, which is what a deployed store pays.
  *
  * An artifact is keyed by its kind, which carries any build parameters
  * (`split_8x2`), plus the fixture dir. Its builder gets the path
  * `<root>/<kind>_<dirKey(dir)>` under one temp root made on first use.
  * Concurrent callers of one key wait for a single build. A build that
  * throws is not memoized: the next call clears whatever it left at the
  * path and builds again. Each key builds under its own lock, not the
  * map's, so a builder may ask for another artifact (a clone's builder
  * asks for its source chain). One kind belongs to one builder; a
  * second builder claiming it is refused.
  */
private[queries] object PerFixture {

  private lazy val root =
    java.nio.file.Files.createTempDirectory("graft_fixture").toString

  /** 64-bit FNV-1a of the dir path, in hex: identifier-safe, so it also
    * names catalogs, managed tables and temp views.
    */
  def hash(dir: String): String = {
    var h = -3750763034362895579L // FNV-1a 64 offset basis
    dir.foreach { c => h ^= c.toLong; h *= 1099511628211L }
    java.lang.Long.toHexString(h)
  }

  /** File-name key for a fixture dir: sanitized path tail plus [[hash]]. */
  def dirKey(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40) + "_" + hash(dir)

  def path(kind: String, dir: String): String = s"$root/${kind}_${dirKey(dir)}"

  /** Deletes `path` and everything under it, if present. */
  def remove(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  private final class Slot { var value: Option[Any] = None }
  private val slots = new ConcurrentHashMap[(String, String), Slot]()
  private val builders = new ConcurrentHashMap[String, Class[_]]()

  def apply[V](kind: String, dir: String)(build: String => V): V = {
    val owner = builders.putIfAbsent(kind, build.getClass)
    require(owner == null || owner == build.getClass,
      s"artifact kind '$kind' is already built by another builder")
    val slot = slots.computeIfAbsent((kind, dir), _ => new Slot)
    slot.synchronized {
      slot.value.getOrElse {
        val p = path(kind, dir)
        remove(p) // what an earlier, failed build left behind
        val v = build(p)
        slot.value = Some(v)
        v
      }
    }.asInstanceOf[V]
  }
}
