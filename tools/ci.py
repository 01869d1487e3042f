"""Round gate: refuse to call a round done while anything is red.

Runs, in order, seven checks:

  1. ``pytest tests/ -q``               (unit + oracle + plan-audit suite)
  2. ``pytest tests/test_sparql_properties.py --hypothesis-profile=ci``
                                        (the SPARQL differential property
                                         tests, derandomized, five times
                                         their default example count)
  3. ``pytest perfbench/tests -q``      (the benchmark's entry points still
                                         run against the package)
  4. ``perfbench/run.py --workload sync_dedup`` (one seeded run of the
                                         table-sync + dedup workload; its
                                         store-hash, RunStats-status and
                                         planted-pair checks must pass)
  5. ``perfbench/run.py --workload kg_nightly`` (one seeded run of the
                                         KG load; the documents of both
                                         nights must match the generator)
  6. ``tools/check_oracle.py <sf_dir>`` (oracle correctness gate)
  7. ``python bench.py``                (must exit 0 and print its JSON line)

Exit code is non-zero if ANY stage fails, so ``python tools/ci.py`` is
the one command to run before ending a round (VERDICT r3: a red suite
was committed because no final gate ran).

Usage: python tools/ci.py [sf_dir=/root/testdata/sf0.01] [--skip-bench]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str]) -> bool:
    t0 = time.time()
    print(f"=== {label}: {' '.join(cmd)}", flush=True)
    proc = subprocess.run(cmd, cwd=REPO)
    ok = proc.returncode == 0
    print(
        f"=== {label}: {'OK' if ok else f'FAILED (rc={proc.returncode})'} "
        f"({time.time() - t0:.0f}s)",
        flush=True,
    )
    return ok


# Suite shards for the parallel gate (no pytest-xdist in the image, so
# file-level sharding with one subprocess + one Spark JVM each).
# Groupings balance measured wall time: the oracle sweep is its own
# shard (the longest), plan-audit + streaming together, the store/merge
# family, and the rest. Files created later fall into shard 3 via the
# catch-all so a new test file cannot silently drop out of the gate.
_SHARDS: list[list[str]] = [
    ["tests/test_oracle.py"],
    ["tests/test_plan_audit.py", "tests/test_streaming.py"],
    [
        "tests/test_flows.py",
        "tests/test_sinks.py",
        "tests/test_merge.py",
        "tests/test_merge_properties.py",
        "tests/test_catalog_drift.py",
    ],
    # the SPARQL compiler suites (incl. Hypothesis differential runs)
    # grew past the rest-shard budget in r7 — their own shard keeps
    # the gate's critical path near the oracle sweep's
    ["tests/test_sparql.py", "tests/test_sparql_properties.py"],
]


_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _jvm_bytes(size: str) -> int:
    """A JVM memory size ("8g", "512m", "1073741824") in bytes."""
    size = size.strip().lower()
    if size and size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size)


def usable_memory() -> int:
    """Physical memory, or the cgroup's memory limit where one is set
    below it (cgroup v2 ``memory.max``, v1 ``memory.limit_in_bytes``)."""
    usable = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            usable = min(usable, int(limit))
    return usable


def run_pytest_sharded(py: str) -> bool:
    """Run the suite as file-level shards, one pytest process (and one
    Spark JVM) each. At most usable memory // per-shard driver heap
    shards run at once, and the rest queue: shards that together could
    outgrow the host's memory get a JVM killed by the kernel, and every
    later test in that shard then fails with a Py4J network error."""
    import glob
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    named = {f for shard in _SHARDS for f in shard}
    rest = sorted(
        f for f in glob.glob("tests/test_*.py") if f not in named
    )
    shards = _SHARDS + [rest]
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    usable = usable_memory()
    concurrency = max(1, min(len(shards), usable // _jvm_bytes(heap)))
    t0 = time.time()
    print(
        f"=== pytest: {len(shards)} shards, {concurrency} at a time "
        f"({heap} driver heap each, {usable / (1 << 30):.1f} GiB usable)",
        flush=True,
    )

    def run_shard(i: int) -> subprocess.CompletedProcess:
        # The shard's warehouse also holds its scratch root, so removing
        # it when the shard ends leaves nothing behind, also when the
        # shard's process was killed before its exit sweep ran.
        with tempfile.TemporaryDirectory(prefix=f"ci_wh{i}_") as warehouse:
            env = dict(os.environ)
            env["SPARK_DRIVER_MEMORY"] = heap
            env["SPARK_GRAFT_WAREHOUSE"] = warehouse
            return subprocess.run(
                [py, "-m", "pytest", *shards[i], "-q"],
                cwd=REPO,
                env=env,
                stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT,
                text=True,
            )

    ok = True
    with ThreadPoolExecutor(max_workers=concurrency) as pool:
        for i, proc in enumerate(pool.map(run_shard, range(len(shards)))):
            out = proc.stdout.strip()
            tail = out.splitlines()[-1] if out else ""
            print(
                f"  shard {i} ({len(shards[i])} files): "
                f"rc={proc.returncode} {tail}",
                flush=True,
            )
            if proc.returncode != 0:
                print("\n".join(out.splitlines()[-40:]))
                ok = False
    print(
        f"=== pytest: {'OK' if ok else 'FAILED'} ({time.time() - t0:.0f}s)",
        flush=True,
    )
    return ok


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    py = sys.executable
    if "--serial" in sys.argv:
        ok = run("pytest", [py, "-m", "pytest", "tests/", "-q"])
    else:
        ok = run_pytest_sharded(py)
    ok = run(
        "sparql-properties",
        [py, "-m", "pytest", "tests/test_sparql_properties.py", "-q",
         "-p", "no:cacheprovider", "--hypothesis-profile=ci"],
    ) and ok
    ok = run(
        "perfbench-tests",
        [py, "-m", "pytest", "perfbench/tests", "-q", "-p", "no:cacheprovider"],
    ) and ok
    ok = run(
        "perfbench-sync-dedup",
        [py, "perfbench/run.py", "--workload", "sync_dedup",
         "--seed", "1", "--seconds", "0", "--trace", "0"],
    ) and ok
    ok = run(
        "perfbench-kg-nightly",
        [py, "perfbench/run.py", "--workload", "kg_nightly",
         "--seed", "1", "--seconds", "0", "--trace", "0"],
    ) and ok
    ok = run("oracle-gate", [py, "tools/check_oracle.py", sf_dir]) and ok
    if "--skip-bench" not in sys.argv:
        t0 = time.time()
        print("=== bench: python bench.py", flush=True)
        proc = subprocess.run(
            [py, "bench.py"], cwd=REPO, capture_output=True, text=True
        )
        bench_ok = proc.returncode == 0
        print(proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "")
        if not bench_ok and proc.stderr:
            # Surface the failure diagnostics (the traceback goes to
            # stderr; swallowing it would force a manual bench re-run
            # just to see why the gate went red).
            print("\n".join(proc.stderr.strip().splitlines()[-30:]))
        print(
            f"=== bench: {'OK' if bench_ok else f'FAILED (rc={proc.returncode})'} "
            f"({time.time() - t0:.0f}s)",
            flush=True,
        )
        ok = bench_ok and ok
        # Bench contract (SURVEY §6): warn — don't fail — when the stable
        # 20-query prefix at sf0.1 exceeds the 12 s quiet-host budget
        # (9.3 s measured + 30% headroom). Contention shows in loadavg.
        if bench_ok:
            try:
                parsed = json.loads(proc.stdout.strip().splitlines()[-1])
                prefix = parsed.get("prefix20_sec")
                if (
                    parsed.get("sf") == 0.1
                    and prefix is not None
                    and prefix > 12.0
                ):
                    print(
                        f"WARNING: prefix20_sec={prefix} exceeds the 12 s "
                        f"quiet-host budget (loadavg "
                        f"{parsed.get('loadavg_start')}->"
                        f"{parsed.get('loadavg_end')}) — see SURVEY §6 "
                        f"bench contract",
                        flush=True,
                    )
            except (json.JSONDecodeError, IndexError):
                pass
    print(f"\nROUND GATE: {'GREEN' if ok else 'RED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
