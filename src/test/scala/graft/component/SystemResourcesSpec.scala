package graft.component

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Cgroup detection (A23) against fake cgroup trees — v1, v2, unlimited,
  * and the config-beats-detection-beats-default resolution order. */
class SystemResourcesSpec extends AnyFunSuite {

  private def cgroup(files: (String, String)*): Path = {
    val root = Files.createTempDirectory("cg")
    files.foreach { case (rel, content) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    root
  }

  test("cgroup v1 cpu quota / period") {
    val root = cgroup(
      "cpu/cpu.cfs_quota_us" -> "600000\n",
      "cpu/cpu.cfs_period_us" -> "100000\n")
    assert(SystemResources.detectCpuCount(root.toString).contains(6))
  }

  test("cgroup v1 unlimited (-1 quota) falls through to v2") {
    val root = cgroup(
      "cpu/cpu.cfs_quota_us" -> "-1",
      "cpu/cpu.cfs_period_us" -> "100000",
      "cpu.max" -> "250000 100000")
    assert(SystemResources.detectCpuCount(root.toString).contains(2))
  }

  test("cgroup v2 cpu.max 'max' means undetected") {
    val root = cgroup("cpu.max" -> "max")
    assert(SystemResources.detectCpuCount(root.toString).isEmpty)
  }

  test("sub-core quota floors at 1") {
    val root = cgroup("cpu.max" -> "50000 100000")
    assert(SystemResources.detectCpuCount(root.toString).contains(1))
  }

  test("cgroup v1/v2 memory limits in MB, minus the runtime reserve") {
    val v1 = cgroup("memory/memory.limit_in_bytes" -> s"${2048L * 1048576}")
    assert(SystemResources.detectMemoryMb(v1.toString).contains(2048L))
    assert(SystemResources.optimalMemoryMb(v1.toString).contains(2048L - 256L))
    val v2 = cgroup("memory.max" -> s"${1024L * 1048576}")
    assert(SystemResources.optimalMemoryMb(v2.toString).contains(768L))
    val unlimited = cgroup("memory.max" -> "max")
    assert(SystemResources.detectMemoryMb(unlimited.toString).isEmpty)
  }

  test("cgroup v1 'unlimited' sentinel is no limit, not 8796093021951 MB") {
    val sentinel = "memory/memory.limit_in_bytes" -> "9223372036854771712"
    val v1 = cgroup(sentinel)
    assert(SystemResources.detectMemoryMb(v1.toString).isEmpty)
    assert(SystemResources.resolveMemoryMb(None, v1.toString) ==
      SystemResources.DefaultMemoryMb)
    // a real v2 limit next to the v1 sentinel still applies
    val both = cgroup(sentinel, "memory.max" -> s"${1024L * 1048576}")
    assert(SystemResources.detectMemoryMb(both.toString).contains(1024L))
  }

  test("resolution order: config > detection > default") {
    val root = cgroup(
      "cpu.max" -> "800000 100000",
      "memory.max" -> s"${8192L * 1048576}")
    // config wins
    assert(SystemResources.resolveThreads(Some(3), root.toString) == 3)
    assert(SystemResources.resolveMemoryMb(Some(512L), root.toString) == 512L)
    // detection next
    assert(SystemResources.resolveThreads(None, root.toString) == 8)
    assert(SystemResources.resolveMemoryMb(None, root.toString) == 8192L - 256L)
    // defaults when nothing is detectable
    val empty = cgroup()
    assert(SystemResources.resolveThreads(None, empty.toString) ==
      SystemResources.DefaultCpuCount)
    assert(SystemResources.resolveMemoryMb(None, empty.toString) ==
      SystemResources.DefaultMemoryMb)
  }

  test("garbage cgroup content is ignored, not fatal") {
    val root = cgroup(
      "cpu.max" -> "banana",
      "memory.max" -> "not-a-number")
    assert(SystemResources.detectCpuCount(root.toString).isEmpty)
    assert(SystemResources.detectMemoryMb(root.toString).isEmpty)
  }
}
