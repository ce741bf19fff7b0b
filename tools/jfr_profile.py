#!/usr/bin/env python3
"""Attribute the CPU samples of a JFR recording of a Spark JVM.

Reads the execution samples of a `.jfr` recording and splits them two
ways, separately for the driver's threads and the executor's task threads
(in local mode both live in one JVM; a task thread is named "Executor
task launch worker ..."):

  * by Spark phase: analysis, optimizer, AQE, codegen generate, codegen
    compile, task (de)serialization, static init (a class initializer on
    the stack), task run, and other;
  * by the first `graft.*` frame from the top of the stack (the library
    code a sample runs under), with the leaf frames under each.

Record a run with the JDK's flight recorder, for example the benchmark:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile" \\
        python3 perfbench/run.py --workload release_turn --seed 11 --seconds 1
    python3 tools/jfr_profile.py /tmp/run.jfr

Samples are read with `jfr print --json --stack-depth 256 --events
jdk.ExecutionSample`. Seconds are samples times the sampling period the
recording ran under (its `jdk.ActiveSetting` for jdk.ExecutionSample:
20 ms under `default`, 10 ms under `profile`), which the JDK's `java`
reads off the recording.
"""
import argparse
import collections
import json
import os
import subprocess
import tempfile

EXECUTOR_THREAD = "Executor task launch worker"
TOP = 15     # rows per table
LEAVES = 3   # leaf frames shown under each graft frame

# `jfr print` writes an ActiveSetting's event type as a bare id, so the
# id of jdk.ExecutionSample is looked up through the consumer API.
PERIOD_JAVA = """
import jdk.jfr.consumer.*;
public class SamplePeriod {
  public static void main(String[] a) throws Exception {
    try (RecordingFile f = new RecordingFile(java.nio.file.Path.of(a[0]))) {
      long id = f.readEventTypes().stream()
        .filter(t -> t.getName().equals("jdk.ExecutionSample")).findFirst().get().getId();
      while (f.hasMoreEvents()) {
        RecordedEvent e = f.readEvent();
        if (e.getEventType().getName().equals("jdk.ActiveSetting")
            && e.getLong("id") == id && e.getString("name").equals("period"))
          System.out.println(e.getString("value"));
      }
    }
  }
}
"""
UNIT_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1000.0}
# the JDK tools run without the recording options a run was started
# with, or they would record themselves over the file they read
JDK_ENV = {k: v for k, v in os.environ.items() if k != "JAVA_TOOL_OPTIONS"}

# (phase, predicate over one frame's "class.method"), first match wins:
# the most specific phase a sample is in, whatever runs it.
PHASES = [
    ("static init", lambda f: f.endswith(".<clinit>")),
    ("codegen compile", lambda f: f.startswith("org.codehaus.janino.")
        or ".CodeGenerator$.doCompile" in f),
    ("codegen generate", lambda f: ".WholeStageCodegenExec.doCodeGen" in f
        or ".codegen.Generate" in f or ".CodegenContext." in f),
    ("task (de)serialization", lambda f: f.startswith("org.apache.spark.serializer.")
        or f.startswith("java.io.ObjectInputStream.")
        or f.startswith("java.io.ObjectOutputStream.")),
    ("analysis", lambda f: f.startswith("org.apache.spark.sql.catalyst.analysis.")
        or ".QueryExecution.assertAnalyzed" in f),
    ("optimizer", lambda f: f.startswith("org.apache.spark.sql.catalyst.optimizer.")
        or ".SparkOptimizer." in f or ".QueryExecution.optimizedPlan" in f),
    ("AQE", lambda f: f.startswith("org.apache.spark.sql.execution.adaptive.")),
    ("task run", lambda f: f.startswith("org.apache.spark.scheduler.Task.run")),
]


def frames_of(event):
    """The sample's frames, leaf first, each as "class.method"."""
    stack = event["values"].get("stackTrace") or {}
    out = []
    for fr in stack.get("frames", []):
        m = fr.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "?").replace("/", ".")
        out.append(f"{cls}.{m.get('name', '?')}")
    return out


def thread_of(event):
    t = event["values"].get("sampledThread") or {}
    return t.get("javaName") or t.get("osName") or "?"


def phase_of(frames):
    for name, hit in PHASES:
        if any(hit(f) for f in frames):
            return name
    return "other"


def first_graft(frames):
    for f in frames:
        if f.startswith("graft."):
            return f
    return "(no graft frame)"


def load(path):
    raw = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "256",
         "--events", "jdk.ExecutionSample", path],
        check=True, stdout=subprocess.PIPE, env=JDK_ENV).stdout
    return json.loads(raw)["recording"]["events"]


def period_ms(path):
    """The one execution-sample period the recording ran under, in ms."""
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "SamplePeriod.java")
        with open(src, "w") as fh:
            fh.write(PERIOD_JAVA)
        out = subprocess.run(["java", src, path], check=True,
                             stdout=subprocess.PIPE, text=True, env=JDK_ENV).stdout
    periods = {line.strip() for line in out.splitlines() if line.strip()}
    if len(periods) != 1:
        raise SystemExit(f"expected one jdk.ExecutionSample period in {path}, got {sorted(periods)}")
    value, unit = periods.pop().split()
    return float(value) * UNIT_MS[unit]


def table(title, counts, total, period):
    print(f"  {title}")
    for key, n in counts.most_common(TOP):
        print(f"    {n:7d} {n * period / 1000:8.2f} s {100.0 * n / max(total, 1):5.1f}%  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("path", help="a .jfr recording")
    path = ap.parse_args().path
    period = period_ms(path)

    by_side = collections.defaultdict(list)
    for e in load(path):
        side = "executor" if thread_of(e).startswith(EXECUTOR_THREAD) else "driver"
        by_side[side].append(frames_of(e))

    print(f"sampling period {period:g} ms")
    for side in ("driver", "executor"):
        samples = by_side.get(side, [])
        total = len(samples)
        print(f"{side}: {total} samples, {total * period / 1000:.2f} s")
        if not total:
            continue
        table("by phase", collections.Counter(phase_of(f) for f in samples), total, period)
        graft = collections.Counter()
        leaves = collections.defaultdict(collections.Counter)
        for f in samples:
            g = first_graft(f)
            graft[g] += 1
            leaves[g][f[0] if f else "?"] += 1
        print("  by first graft frame (leaf frames under it)")
        for g, n in graft.most_common(TOP):
            print(f"    {n:7d} {n * period / 1000:8.2f} s {100.0 * n / total:5.1f}%  {g}")
            for leaf, m in leaves[g].most_common(LEAVES):
                print(f"    {'':7s} {'':10s} {m:6d}  <- {leaf}")


if __name__ == "__main__":
    main()
