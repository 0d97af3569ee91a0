#!/usr/bin/env python3
"""Attribute one JVM thread's time to the engine's own frames.

Reads a Java Flight Recorder file (or the output of
`jfr print --json` already saved to a .json file) and sums, per
innermost frame whose class starts with the prefix (default `graft.`):

  - the thread's CPU samples (`jdk.ExecutionSample`), and
  - the seconds it spent parked (`jdk.ThreadPark`, 10 ms or longer:
    waiting on Spark jobs, futures, locks).

A sample whose stack holds no such frame counts under `(other)`.

Usage:
  tools/jfrprof.py run.jfr                  # main thread, graft. frames
  tools/jfrprof.py run.jfr --thread main --prefix graft.catalog. --top 20

Record with (JDK 17; give every JVM its own file, `%p` is not expanded):
  JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=512 \
    -XX:StartFlightRecording=filename=run.jfr,dumponexit=true,settings=profile"
"""
import argparse
import collections
import json
import re
import subprocess
import sys

MIN_PARK_S = 0.010
_DUR = re.compile(r"^PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?$")


def seconds(d):
    """A JFR duration: ISO-8601 (`PT0.0125S`) or a number of nanoseconds."""
    if isinstance(d, (int, float)):
        return d / 1e9
    m = _DUR.match(d or "")
    if not m:
        return 0.0
    h, mi, s = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)


def load(path):
    if path.endswith(".json"):
        with open(path) as f:
            return json.load(f)
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "512",
         "--events", "jdk.ExecutionSample,jdk.ThreadPark", path],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)


def frame_name(fr):
    m = fr.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return f"{cls}.{m.get('name', '?')}"


def innermost(stack, prefix):
    """First (innermost) frame of `stack` whose class has `prefix`."""
    for fr in (stack or {}).get("frames") or []:
        name = frame_name(fr)
        if name.startswith(prefix):
            return name
    return "(other)"


def attribute(events, thread, prefix):
    cpu = collections.Counter()
    park = collections.Counter()
    for ev in events:
        v = ev.get("values", {})
        if ev.get("type") == "jdk.ExecutionSample":
            t = (v.get("sampledThread") or {}).get("javaName")
            if t == thread:
                cpu[innermost(v.get("stackTrace"), prefix)] += 1
        elif ev.get("type") == "jdk.ThreadPark":
            t = (v.get("eventThread") or {}).get("javaName")
            d = seconds(v.get("duration"))
            if t == thread and d >= MIN_PARK_S:
                park[innermost(v.get("stackTrace"), prefix)] += d
    return cpu, park


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording", help=".jfr file, or saved `jfr print --json` output")
    ap.add_argument("--thread", default="main")
    ap.add_argument("--prefix", default="graft.")
    ap.add_argument("--top", type=int, default=25)
    a = ap.parse_args(argv)
    events = load(a.recording).get("recording", {}).get("events", [])
    cpu, park = attribute(events, a.thread, a.prefix)
    n_cpu = sum(cpu.values()) or 1
    park_s = sum(park.values()) or 1e-9
    print(f"thread {a.thread}: {sum(cpu.values())} CPU samples, "
          f"{sum(park.values()):.2f} s parked (>= {MIN_PARK_S * 1000:.0f} ms each)")
    print(f"{'cpu':>6} {'cpu%':>6} {'park_s':>8} {'park%':>6}  innermost {a.prefix} frame")
    for name in sorted(set(cpu) | set(park),
                       key=lambda k: -(cpu[k] / n_cpu + park[k] / park_s))[:a.top]:
        print(f"{cpu[name]:>6} {100 * cpu[name] / n_cpu:>5.1f}% "
              f"{park[name]:>8.2f} {100 * park[name] / park_s:>5.1f}%  {name}")


if __name__ == "__main__":
    sys.exit(main())
