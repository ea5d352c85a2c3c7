package graft.component

import java.nio.file.{Files, Path, Paths}

import scala.util.Try

/** Container resource detection (reference A23,
  * `src/system_resources.py:11-106`): in a container the JVM's visible
  * core/memory numbers are the HOST's, so thread-pool and memory sizing
  * must come from the cgroup limits — a misdetected core count mis-sizes
  * `local[n]` and every shuffle partition count.
  *
  * Detection order mirrors the reference: cgroup v1 then v2, `None` when
  * unlimited ("max", quota -1) or unreadable. Resolution order: explicit
  * config value wins; else detection; else defaults (4 threads / 4096 MB).
  * Detected memory is reduced by a fixed runtime reserve. */
object SystemResources {

  val DefaultCpuCount = 4
  val DefaultMemoryMb = 4096L

  /** Fixed reserve for the host runtime (reference: 256 MB for Python;
    * same constant kept for behavioral parity — the JVM heap is sized by
    * the launcher, this bounds the engine's working memory). */
  val ReservedMemoryMb = 256L

  private def readTrimmed(p: Path): Option[String] =
    if (Files.exists(p)) Try(Files.readString(p).trim).toOption else None

  private def readLong(p: Path): Option[Long] =
    readTrimmed(p).flatMap(s => Try(s.toLong).toOption)

  /** CPU quota from cgroup v1 (`cpu/cpu.cfs_quota_us` / `cpu.cfs_period_us`)
    * or v2 (`cpu.max` = "quota period" | "max"). None = no limit found. */
  def detectCpuCount(root: String = "/sys/fs/cgroup"): Option[Int] = {
    val v1 = for {
      quota <- readLong(Paths.get(root, "cpu", "cpu.cfs_quota_us"))
      period <- readLong(Paths.get(root, "cpu", "cpu.cfs_period_us"))
      if quota > 0 && period > 0
    } yield math.max(1L, quota / period).toInt
    v1.orElse {
      readTrimmed(Paths.get(root, "cpu.max")).filter(_ != "max").flatMap { s =>
        s.split("\\s+") match {
          case Array(q, p) =>
            for {
              quota <- Try(q.toLong).toOption
              period <- Try(p.toLong).toOption
              if quota > 0 && period > 0
            } yield math.max(1L, quota / period).toInt
          case _ => None
        }
      }
    }
  }

  /** Memory limit (MB) from cgroup v1 (`memory/memory.limit_in_bytes`) or
    * v2 (`memory.max` = bytes | "max"). None = no limit found. A limit at
    * or above the host's RAM limits nothing: cgroup v1 writes "unlimited"
    * as 9223372036854771712, which read literally is 8796093021951 MB. */
  def detectMemoryMb(root: String = "/sys/fs/cgroup"): Option[Long] = {
    val v1 = readLong(Paths.get(root, "memory", "memory.limit_in_bytes")).filter(_ > 0)
    val v2 = readTrimmed(Paths.get(root, "memory.max")).filter(_ != "max")
      .flatMap(s => Try(s.toLong).toOption)
    (v1 ++ v2).map(_ / (1024L * 1024L)).find(mb => physicalMemoryMb.forall(mb < _))
  }

  /** Host RAM from `/proc/meminfo` (a container sees the host's figure). */
  private lazy val physicalMemoryMb: Option[Long] =
    readTrimmed(Paths.get("/proc/meminfo")).flatMap(_.linesIterator.collectFirst {
      case l if l.startsWith("MemTotal:") => Try(l.split("\\s+")(1).toLong / 1024L).toOption
    }.flatten)

  /** Detected memory minus the runtime reserve, floored at 1 MB. */
  def optimalMemoryMb(root: String = "/sys/fs/cgroup"): Option[Long] =
    detectMemoryMb(root).map(m => math.max(1L, m - ReservedMemoryMb))

  /** Reference resolution: explicit config > detection > default. */
  def resolveThreads(configured: Option[Int],
                     root: String = "/sys/fs/cgroup"): Int =
    configured.map(math.max(1, _))
      .orElse(detectCpuCount(root))
      .getOrElse(DefaultCpuCount)

  def resolveMemoryMb(configured: Option[Long],
                      root: String = "/sys/fs/cgroup"): Long =
    configured.filter(_ > 0)
      .orElse(optimalMemoryMb(root))
      .getOrElse(DefaultMemoryMb)
}
