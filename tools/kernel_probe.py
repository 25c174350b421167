"""Instrumented PageRank-kernel probe: one fresh JVM per invocation.

Usage: python tools/kernel_probe.py <cores> <edges_parquet> <n_iter> <df|bsp>
       <out_json> [verts_parquet]

Runs ``n_iter`` PageRank supersteps with the given kernel and records, per
superstep: wall seconds, cumulative JVM GC time delta (all collectors),
committed/used heap, and persisted-block storage bytes. This is the
instrumentation VERDICT r3 asked for: the df-kernel superstep was bimodal
(4 s <-> 22 s at 4 cores on identical code) and the hypothesis under test is
JVM heap uncommit/recommit (G1 returns pages to the OS between supersteps;
re-faulting them costs seconds-per-GB when the host is in a memory-compaction
phase, ~10 MB/s worst case — see BENCH/BASELINE.md weather notes).

Env knobs:
  PROBE_JAVA_OPTS   extra driver JVM flags (e.g. -XX:MaxHeapFreeRatio=100)
  SPARK_DRIVER_MEMORY  heap cap (session.py default 16g)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def jvm_stats(spark) -> dict:
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = 0
    gc_n = 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        b = it.next()
        gc_ms += max(0, b.getCollectionTime())
        gc_n += max(0, b.getCollectionCount())
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    storage_mem = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        storage_mem += info.memSize()
    return {
        "gc_ms": gc_ms,
        "gc_n": gc_n,
        "heap_committed_mb": heap.getCommitted() // (1 << 20),
        "heap_used_mb": heap.getUsed() // (1 << 20),
        "storage_mb": storage_mem // (1 << 20),
    }


def main():
    cores, edges_path, n_iter, kernel, out_path = (
        sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4], sys.argv[5])
    verts_path = sys.argv[6] if len(sys.argv) > 6 else None
    os.environ["SPARK_GRAFT_CPUS"] = cores
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(4 * int(cores)))

    from elektra_spark.operators.pagerank import pagerank
    from elektra_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": "0",
    }
    java_opts = os.environ.get("PROBE_JAVA_OPTS", "")
    if java_opts:
        extra["spark.driver.extraJavaOptions"] = java_opts
    for kv in os.environ.get("PROBE_SPARK_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = get_spark(f"kernel-probe-{cores}-{kernel}", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    edges = spark.read.parquet(edges_path)
    verts = spark.read.parquet(verts_path) if verts_path else None

    samples: list[dict] = []
    last = {"t": time.time(), **jvm_stats(spark)}

    def hook(step, changed, sec):
        now = jvm_stats(spark)
        samples.append(
            {
                "step": step,
                "wall_s": round(sec, 3),
                "gc_delta_ms": now["gc_ms"] - last["gc_ms"],
                "gc_delta_n": now["gc_n"] - last["gc_n"],
                "heap_committed_mb": now["heap_committed_mb"],
                "heap_used_mb": now["heap_used_mb"],
                "storage_mb": now["storage_mb"],
            }
        )
        last.update(now)

    t0 = time.time()
    pagerank(edges, vertices=verts, n_iter=n_iter, kernel=kernel, on_superstep=hook).count()
    total = time.time() - t0

    out = {
        "cores": int(cores),
        "kernel": kernel,
        "java_opts": java_opts,
        "total_s": round(total, 2),
        "steady_min_s": round(min(s["wall_s"] for s in samples[1:]), 3) if len(samples) > 1 else None,
        "steps": samples,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "steps"}))
    print(" steps:", [s["wall_s"] for s in samples])
    print(" gc_ms:", [s["gc_delta_ms"] for s in samples])
    print(" committed_mb:", [s["heap_committed_mb"] for s in samples])
    spark.stop()


if __name__ == "__main__":
    main()
