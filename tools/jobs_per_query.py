#!/usr/bin/env python3
"""Spark job and task counts per BenchExtra query and rep, read from an
event log.

BenchExtra run with GRAFT_BENCHX_EVENTLOG=<dir> writes an uncompressed
Spark event log in which every job of a timed rep carries the job
description `benchx:<query>` and the local property `graft.benchx.rep`.
A task counts toward the first job that lists its stage (a stage a later
job reuses is skipped there and runs no task); every task end counts,
retries included.

  python3 tools/jobs_per_query.py LOG
      one line per (query, rep): query, rep, job count, task count; then
      the totals
  python3 tools/jobs_per_query.py BEFORE_LOG AFTER_LOG
      only the (query, rep) rows whose job or task counts differ: both
      job counts and their delta, then both task counts and their delta;
      then each side's totals; exit status 1 if any row differs
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


def counts_of(path):
    """(jobs, tasks): two Counters keyed by (query, rep)."""
    jobs, tasks = collections.Counter(), collections.Counter()
    stage_key = {}
    for name in log_files(path):
        with open(name, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    if desc.startswith("benchx:"):
                        key = (desc[len("benchx:"):], props.get("graft.benchx.rep", "?"))
                        jobs[key] += 1
                        for sid in ev.get("Stage IDs") or []:
                            stage_key.setdefault(sid, key)
                elif '"SparkListenerTaskEnd"' in line:
                    key = stage_key.get(json.loads(line).get("Stage ID"))
                    if key is not None:
                        tasks[key] += 1
    return jobs, tasks


def main(argv):
    only = None
    if len(argv) > 2 and argv[1] == "--only":
        only = set(argv[2].split(","))
        argv = argv[:1] + argv[3:]

    def counts(path):
        return tuple(c if only is None else collections.Counter(
            {k: n for k, n in c.items() if k[0] in only}) for c in counts_of(path))

    if len(argv) == 2:
        jobs, tasks = counts(argv[1])
        for key in sorted(jobs):
            print(f"{key[0]}\t{key[1]}\t{jobs[key]}\t{tasks[key]}")
        print(f"total\t\t{sum(jobs.values())}\t{sum(tasks.values())}")
        return 0
    if len(argv) == 3:
        (jb, tb), (ja, ta) = counts(argv[1]), counts(argv[2])
        keys = sorted(set(jb) | set(ja))
        differ = 0
        for key in keys:
            if (jb[key], tb[key]) != (ja[key], ta[key]):
                differ += 1
                print(f"{key[0]}\t{key[1]}\t{jb[key]}\t{ja[key]}\t{ja[key] - jb[key]:+d}"
                      f"\t{tb[key]}\t{ta[key]}\t{ta[key] - tb[key]:+d}")
        b, a = sum(jb.values()), sum(ja.values())
        bt, at = sum(tb.values()), sum(ta.values())
        print(f"total\t\t{b}\t{a}\t{a - b:+d}\t{bt}\t{at}\t{at - bt:+d}")
        print(f"{differ} of {len(keys)} (query, rep) rows differ", file=sys.stderr)
        return 1 if differ else 0
    sys.exit(__doc__)


if __name__ == "__main__":
    sys.exit(main(sys.argv))
