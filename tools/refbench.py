#!/usr/bin/env python3
"""Two-git-ref PAIRED benchmark (VERDICT r16 next #2): the quiet blocks
are single-arm, so a cross-ROUND per-query delta on this shared host is
Finding-9 folklore (two r16 blocks on code differing by one message
string moved sf0.01 +22%). This driver makes the comparison paired:
whole `graft.Bench` invocations (fresh JVM, cold session, identical
SPARK_GRAFT_ONLY list, reps=1) ALTERNATE between the two refs' jars in
ABBA order within one host session, and the claim is the median of
per-pair deltas — host drift moves both arms of a pair together, and
the ABBA order cancels a linear drift across pairs.

Both jars carry the same Bench main and env contract, so the r16 arm
runs its own round's code end-to-end — no shims, no backports.

Usage:
  python3 tools/refbench.py JAR_A JAR_B SFDIR q1,q2,... [pairs=5] [out.json]
"""
import json
import subprocess
import sys
import statistics

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_arm(jar, sfdir, queries, mem="8g"):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{mem}",
            "-cp", f"{jar}:/opt/spark/jars/*", "graft.Bench"]
    env = {"PATH": "/usr/bin:/bin", "HOME": "/root",
           "SPARK_GRAFT_SF_DIR": sfdir, "SPARK_GRAFT_CPUS": "32",
           "SPARK_GRAFT_REPS": "1", "SPARK_GRAFT_ONLY": ",".join(queries)}
    out = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in out.stdout.splitlines():
        if line.startswith('{"metric"'):
            return json.loads(line)
    sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-2000:] + "\n")
    raise RuntimeError(f"no bench JSON from {jar}")


def main():
    jar_a, jar_b, sfdir, qcsv = sys.argv[1:5]
    pairs = int(sys.argv[5]) if len(sys.argv) > 5 else 5
    outp = sys.argv[6] if len(sys.argv) > 6 else None
    mem = "8g"
    queries = qcsv.split(",")
    rows = []  # per pair: (a_result, b_result)
    for i in range(pairs):
        order = ["A", "B"] if i % 2 == 0 else ["B", "A"]
        got = {}
        for arm in order:
            jar = jar_a if arm == "A" else jar_b
            r = run_arm(jar, sfdir, queries, mem)
            got[arm] = r
            print(f"[refbench] pair {i} arm {arm} total={r['value']:.2f}s "
                  f"calib_mt={r['calib']['mt_ms']:.1f}ms "
                  f"errors={list(r['errors'].keys())}", flush=True)
        rows.append((got["A"], got["B"]))
    summary = {}
    for q in queries:
        da = [a["queries"].get(q) for a, _ in rows]
        db = [b["queries"].get(q) for _, b in rows]
        if any(v is None for v in da + db):
            summary[q] = {"error": "missing in some arm"}
            continue
        deltas = [x - y for x, y in zip(da, db)]
        summary[q] = {
            "A_median": statistics.median(da),
            "B_median": statistics.median(db),
            "paired_delta_median": statistics.median(deltas),
            "A": da, "B": db,
        }
    out = {"jar_a": jar_a, "jar_b": jar_b, "sf": sfdir, "pairs": pairs,
           "calib_mt_A": [a["calib"]["mt_ms"] for a, _ in rows],
           "calib_mt_B": [b["calib"]["mt_ms"] for _, b in rows],
           "queries": summary}
    text = json.dumps(out, indent=1)
    if outp:
        with open(outp, "w") as f:
            f.write(text)
    print(text)
    for q in queries:
        s = summary[q]
        if "error" in s:
            print(f"[refbench] {q}: {s['error']}")
        else:
            print(f"[refbench] {q}: A={s['A_median']:.2f}s "
                  f"B={s['B_median']:.2f}s "
                  f"paired_delta={s['paired_delta_median']:+.2f}s (A-B)")


if __name__ == "__main__":
    main()
