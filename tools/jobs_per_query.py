#!/usr/bin/env python3
"""Spark job counts per BenchExtra query and rep, read from an event log.

BenchExtra run with GRAFT_BENCHX_EVENTLOG=<dir> writes an uncompressed
Spark event log in which every job of a timed rep carries the job
description `benchx:<query>` and the local property `graft.benchx.rep`.

  python3 tools/jobs_per_query.py LOG
      one line per (query, rep): query, rep, job count; then the total
  python3 tools/jobs_per_query.py BEFORE_LOG AFTER_LOG
      only the (query, rep) rows whose counts differ, with both counts
      and the delta, then each side's total job count; exit status 1 if
      any row differs
  python3 tools/jobs_per_query.py --only q1,q2,... LOG [AFTER_LOG]
      either mode over these queries only; the totals are the sums over
      that list

LOG is an event log file, a rolling event log dir (`eventlog_v2_<app>`),
or a log root dir holding exactly one of either.
"""
import collections
import json
import os
import sys

COMPRESSED = (".zstd", ".lz4", ".lzf", ".snappy")


def log_files(path):
    """The event log files of one application, in write order: `path`
    itself, the `events_<n>_*` parts of a rolling log dir
    (`eventlog_v2_<app>`), or the one log under a log root dir."""
    if os.path.isdir(path):
        entries = [e for e in os.listdir(path) if not e.startswith(".")]
        parts = [e for e in entries if e.startswith("events_")]
        if parts:
            parts.sort(key=lambda e: int(e.split("_")[1]))
            files = [os.path.join(path, e) for e in parts]
        elif len(entries) == 1:
            return log_files(os.path.join(path, entries[0]))
        else:
            sys.exit(f"{path}: expected one event log, found {sorted(entries)}")
    else:
        files = [path]
    for f in files:
        if f.endswith(COMPRESSED):
            sys.exit(f"{f}: compressed event log; rerun with "
                     "spark.eventLog.compress=false (BenchExtra sets it)")
    return files


def job_counts(path):
    counts = collections.Counter()
    for name in log_files(path):
        with open(name, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' not in line:
                    continue
                props = json.loads(line).get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                if desc.startswith("benchx:"):
                    rep = props.get("graft.benchx.rep", "?")
                    counts[(desc[len("benchx:"):], rep)] += 1
    return counts


def main(argv):
    only = None
    if len(argv) > 2 and argv[1] == "--only":
        only = set(argv[2].split(","))
        argv = argv[:1] + argv[3:]

    def counts(path):
        c = job_counts(path)
        return c if only is None else collections.Counter(
            {k: n for k, n in c.items() if k[0] in only})

    if len(argv) == 2:
        c = counts(argv[1])
        for (q, rep), n in sorted(c.items()):
            print(f"{q}\t{rep}\t{n}")
        print(f"total\t\t{sum(c.values())}")
        return 0
    if len(argv) == 3:
        before, after = counts(argv[1]), counts(argv[2])
        differ = 0
        for key in sorted(set(before) | set(after)):
            b, a = before.get(key, 0), after.get(key, 0)
            if a != b:
                differ += 1
                print(f"{key[0]}\t{key[1]}\t{b}\t{a}\t{a - b:+d}")
        b, a = sum(before.values()), sum(after.values())
        print(f"total\t\t{b}\t{a}\t{a - b:+d}")
        print(f"{differ} of {len(set(before) | set(after))} (query, rep) rows differ",
              file=sys.stderr)
        return 1 if differ else 0
    sys.exit(__doc__)


if __name__ == "__main__":
    sys.exit(main(sys.argv))
