#!/usr/bin/env python3
"""Attribute JVM threads' time to the engine's own frames.

Reads a Java Flight Recorder file (or the output of
`jfr print --json` already saved to a .json file) and sums, per
innermost frame whose class starts with the prefix (default `graft.`):

  - the matched threads' CPU samples (`jdk.ExecutionSample`), and
  - the seconds they spent parked (`jdk.ThreadPark`, 10 ms or longer:
    waiting on Spark jobs, futures, locks).

A sample whose stack holds no such frame counts under `(other)`.

`--thread` is a regular expression matched at the start of each thread
name, so a plain name also matches as a prefix: Spark names every
executor thread `Executor task launch worker for task <n> ...`, one name
per task, and `--thread 'Executor task launch worker'` sums all of them.
End the pattern with `$` for one exact name (the default, `main$`).

Usage:
  tools/jfrprof.py run.jfr                  # main thread, graft. frames
  tools/jfrprof.py run.jfr --thread 'main$' --prefix graft.catalog. --top 20
  tools/jfrprof.py run.jfr --thread 'Executor task launch worker'

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
    """CPU samples and park seconds per innermost `prefix` frame of the
    threads whose names `thread` (a regex) matches at the start, and the
    set of names it matched."""
    pattern = re.compile(thread)
    cpu = collections.Counter()
    park = collections.Counter()
    names = set()

    def matches(t):
        if t is not None and pattern.match(t):
            names.add(t)
            return True
        return False

    for ev in events:
        v = ev.get("values", {})
        if ev.get("type") == "jdk.ExecutionSample":
            if matches((v.get("sampledThread") or {}).get("javaName")):
                cpu[innermost(v.get("stackTrace"), prefix)] += 1
        elif ev.get("type") == "jdk.ThreadPark":
            d = seconds(v.get("duration"))
            if d >= MIN_PARK_S and matches((v.get("eventThread") or {}).get("javaName")):
                park[innermost(v.get("stackTrace"), prefix)] += d
    return cpu, park, names


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording", help=".jfr file, or saved `jfr print --json` output")
    ap.add_argument("--thread", default="main$",
                    help="regex matched at the start of thread names (default: main$)")
    ap.add_argument("--prefix", default="graft.")
    ap.add_argument("--top", type=int, default=25)
    a = ap.parse_args(argv)
    events = load(a.recording).get("recording", {}).get("events", [])
    cpu, park, names = attribute(events, a.thread, a.prefix)
    n_cpu = sum(cpu.values()) or 1
    park_s = sum(park.values()) or 1e-9
    print(f"thread {a.thread} ({len(names)} matched): {sum(cpu.values())} CPU samples, "
          f"{sum(park.values()):.2f} s parked (>= {MIN_PARK_S * 1000:.0f} ms each)")
    print(f"{'cpu':>6} {'cpu%':>6} {'park_s':>8} {'park%':>6}  innermost {a.prefix} frame")
    for name in sorted(set(cpu) | set(park),
                       key=lambda k: -(cpu[k] / n_cpu + park[k] / park_s))[:a.top]:
        print(f"{cpu[name]:>6} {100 * cpu[name] / n_cpu:>5.1f}% "
              f"{park[name]:>8.2f} {100 * park[name] / park_s:>5.1f}%  {name}")


if __name__ == "__main__":
    sys.exit(main())
