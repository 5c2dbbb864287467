#!/usr/bin/env python3
"""Count a JFR recording's execution samples whose stack holds a frame.

    python3 tools/jfr_frames.py <recording.jfr> <frame> [<frame> ...]

A frame is matched as a substring of `<class>.<method>` (for example
`CollationAwareUTF8String.<clinit>`). For each frame it prints the
samples holding it, the threads they ran on, and the wall span between
the first and last such sample, as one JSON object; `samples` is the
recording's total, the denominator. Reads the recording with the JDK's
`jfr print --json`, so it needs a JDK on the PATH and nothing else.

Record a run with, e.g.
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=r.jfr,settings=profile"
"""
import json
import subprocess
import sys
from collections import Counter
from datetime import datetime


def samples(path):
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ExecutionSample", path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(event):
    for f in event["values"]["stackTrace"]["frames"]:
        m = f["method"]
        yield f'{m["type"]["name"].rsplit(".", 1)[-1]}.{m["name"]}'


def when(event):
    return datetime.fromisoformat(event["values"]["startTime"].replace("Z", "+00:00"))


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    events = samples(sys.argv[1])
    report = {"recording": sys.argv[1], "samples": len(events), "frames": {}}
    for frame in sys.argv[2:]:
        hits = [e for e in events if any(frame in f for f in frames(e))]
        threads = Counter(e["values"]["sampledThread"]["javaName"] for e in hits)
        span = (when(max(hits, key=when)) - when(min(hits, key=when))).total_seconds() \
            if hits else 0.0
        report["frames"][frame] = {"samples": len(hits), "threads": dict(threads),
                                   "span_s": round(span, 3)}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
