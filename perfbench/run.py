#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness with sbt
(perfbench/build.sbt compiles the repo's src/main with perfbench/src); later
runs reuse the build until a source file changes. Everything the run writes
stays under the checkout: build output in perfbench/target, work data and
traces in .bench_build/.
"""
import argparse
import os
import pathlib
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = HERE / "target" / "bench.classpath"
WORKLOADS = ("ingest_stream", "query_sweep")
RUN_TIMEOUT_S = 175
# JDK 17 module opens Spark needs outside spark-submit, as in the root build
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def sources():
    for base in (HERE / "src" / "main", ROOT / "src" / "main"):
        for p in base.rglob("*"):
            if p.is_file():
                yield p
    yield HERE / "build.sbt"


def build():
    """Compile with sbt unless the classpath stamp is newer than every source."""
    if CLASSPATH.exists():
        stamp = CLASSPATH.stat().st_mtime
        if all(p.stat().st_mtime <= stamp for p in sources()):
            return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        # the same offline resolver set the repo's tier-1 command uses
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, timeout=840)
    sys.stderr.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.exit(f"perfbench: build failed (sbt exit {out.returncode})")
    CLASSPATH.write_text(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: the repo's src/main/scala is missing; run from a full checkout")
    cp = build()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # A committed, pre-touched heap keeps page-fault cost out of the timings
    # (the root build's SPARK_GRAFT_PRETOUCH does the same).
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for o in OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    # a terminated runner takes the JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run stopped before it finished")
    if proc.returncode != 0:
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
