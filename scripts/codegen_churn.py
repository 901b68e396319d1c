#!/usr/bin/env python3
"""Counts Spark codegen compiles per distinct source and flags recompiles.

    python3 scripts/codegen_churn.py <codegen.log> [--top 20]

Reads the file written through scripts/log4j2-codegen.properties: each
`@@codegen` record at DEBUG is one Janino compile (CodeGenerator logs
the source only on a cache miss), and the INFO record "Code generated
in N ms" that follows it on the same thread gives its compile time.
Sources are told apart by the hash of their logged text with the
codegen stage id taken out (the `codegenStageId=N` comment and the
`GeneratedIteratorForCodegenStageN` class-name suffix). Spark's cache
compares a source's body without its comments, and
`spark.sql.codegen.useIdInClassName=false` drops the id from the class
name, so two logged sources that differ only in the stage id are one
cache key there; with the id in the class name they are two keys for
the same code, and compiling the second is as wasted as a cache miss.

Prints the total compiles, distinct sources and compile time; the same
per thread kind (the thread name cut at " for " with its digits
replaced by N, so every task thread is one kind), with how many of the
kind's sources were compiled more than once and how many of those were
also compiled under another kind; and the sources compiled more than
once, most compiled first. In a long-lived session a source compiled
again was evicted from Spark's codegen cache
(`spark.sql.codegen.cache.maxEntries`), came back under another stage
id, or was compiled under another class loader: the cache key is
(class loader, source), and with `spark.sql.artifact.isolation.enabled`
on, every session, a streaming query's clone included, loads its tasks'
classes through its own loader. Exits 1 when some source was compiled
more than once.
Stdlib only.
"""
import argparse
import collections
import hashlib
import re
import sys

HEADER = re.compile(r"^@@codegen \S+ (\w+) \[(.*)\] ?(.*)$")
TIMED = re.compile(r"Code generated in ([0-9.]+) ms")


def records(path):
    """(level, thread, text) of each log record, continuation lines included."""
    cur = None
    with open(path, errors="replace") as f:
        for line in f:
            m = HEADER.match(line.rstrip("\n"))
            if m:
                if cur:
                    yield cur
                cur = [m.group(1), m.group(2), [m.group(3)]]
            elif cur:
                cur[2].append(line.rstrip("\n"))
    if cur:
        yield cur


STAGE_ID = re.compile(r"(codegenStageId=|GeneratedIteratorForCodegenStage)\d+")


def source_key(text):
    """The hash of a logged source with its codegen stage id taken out."""
    return hashlib.sha1(STAGE_ID.sub(r"\1N", text).encode()).hexdigest()[:12]


def thread_kind(thread):
    return re.sub(r"\d+", "N", thread.split(" for ")[0]).strip()


def label(text):
    """A short name for a source: its generated class and codegen stage."""
    cls = re.search(r"\b(Generated\w+|Specific\w+)", text)
    stage = re.search(r"codegenStageId=(\d+)", text)
    return " ".join(filter(None, [cls.group(1) if cls else "?",
                                  f"stage {stage.group(1)}" if stage else ""]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--top", type=int, default=20, help="recompiled sources to list")
    args = ap.parse_args()

    compiles = []  # [source hash, thread kind, ms]
    last = {}  # thread -> index of its latest untimed compile
    labels = {}  # source hash -> label
    for level, thread, lines in records(args.log):
        text = "\n".join(lines)
        if level == "DEBUG":
            h = source_key(text)
            labels.setdefault(h, label(text))
            last[thread] = len(compiles)
            compiles.append([h, thread_kind(thread), 0.0])
        elif level == "INFO":
            m = TIMED.search(text)
            if m and thread in last:
                compiles[last.pop(thread)][2] = float(m.group(1))
    if not compiles:
        sys.exit(f"no compile records in {args.log}: was the JVM started with "
                 "-Dlog4j2.configurationFile=scripts/log4j2-codegen.properties?")

    per_source = collections.Counter(h for h, _, _ in compiles)
    again = {h for h, n in per_source.items() if n > 1}
    ms = sum(c[2] for c in compiles)
    again_ms = sum(c[2] for c in compiles if c[0] in again)
    print(f"compiles {len(compiles)}, distinct sources {len(per_source)}, "
          f"compile time {ms:.0f} ms")
    print(f"sources compiled more than once: {len(again)}, "
          f"{sum(per_source[h] - 1 for h in again)} extra compiles, "
          f"{again_ms:.0f} ms on those sources")

    kinds = collections.defaultdict(list)
    kinds_of = collections.defaultdict(set)  # source hash -> thread kinds
    for c in compiles:
        kinds[c[1]].append(c)
        kinds_of[c[0]].add(c[1])
    print("\nper thread kind: compiles, distinct sources, recompiled sources, "
          "those also compiled under another kind, ms")
    for kind, cs in sorted(kinds.items(), key=lambda kv: -len(kv[1])):
        hs = {c[0] for c in cs} & again
        print(f"  {len(cs):6d} {len({c[0] for c in cs}):6d} {len(hs):6d} "
              f"{sum(len(kinds_of[h]) > 1 for h in hs):6d} "
              f"{sum(c[2] for c in cs):9.0f}  {kind}")

    if again:
        print(f"\nrecompiled sources (top {args.top}): compiles, ms, source, thread kinds")
        for h, n in [(h, n) for h, n in per_source.most_common() if n > 1][:args.top]:
            cs = [c for c in compiles if c[0] == h]
            print(f"  {n:4d} {sum(c[2] for c in cs):8.0f}  {h} {labels[h]}  "
                  f"[{', '.join(sorted({c[1] for c in cs}))}]")
    sys.exit(1 if again else 0)


if __name__ == "__main__":
    main()
