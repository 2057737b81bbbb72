#!/usr/bin/env python3
"""Attribute JFR execution samples to graft source lines.

Where does a trigger's driver time go? Wall time and job counts say how
much there is; a flight recording says which line spends it. This script
reads the JSON that `jfr print` makes of a recording's execution samples,
keeps the samples whose stack passes a frame filter (say, everything
under `StreamingDedup.processBatch`), and charges each kept sample to the
innermost frame of a graft class: the graft line that was running, or
that called into Spark, Scala or the JDK when the sample was taken.

Recipe (one perfbench workload; any JVM works the same way):

    # 1. record: the flags reach perfbench's JVM through JAVA_TOOL_OPTIONS
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/rec.jfr,settings=profile \\
        -XX:FlightRecorderOptions=stackdepth=2048" \\
      python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 20 --trace 0
    # 2. print the samples with whole stacks
    jfr print --json --stack-depth 1000 --events jdk.ExecutionSample /tmp/rec.jfr > /tmp/rec.json
    # 3. attribute
    python3 tools/jfr_hotspots.py /tmp/rec.json --under 'StreamingDedup\\.processBatch'

Two traps, both of which silently cut the stacks short:
  * `jfr print` keeps only the top 5 frames of each stack by default, so
    no filter on an outer frame matches; pass `--stack-depth 1000`.
  * the JVM records 64 frames by default, and a Spark action is deeper
    than that. The flag is `-XX:FlightRecorderOptions=stackdepth=2048`,
    with `=` (not `-XX:FlightRecorderOptions:stackdepth`, which the JVM
    rejects). The recorder marks the stacks it cut, and the script says
    how many kept stacks were cut; `jfr print` marks nothing, so the
    script warns when no stack is deeper than 5 frames.

Options:
    --under REGEX   keep samples with a frame `pkg.Class.method` matching
                    REGEX (default: keep every sample)
    --top N         lines to print (default 30)
    --phases        also split each line's samples by the Spark phase
                    that was running (see PHASES), and print the
                    phases' totals
    --threads       also split each line's samples by the thread group
                    that took them (see THREADS: the driver's `main`,
                    task threads, AQE stage threads, the DAG
                    scheduler), and print the groups' totals. A filter
                    on a driver frame (`--under`) keeps only driver
                    samples; run without it to see the task side.

Prints one line per graft source line: samples, share of the kept
samples, and `Class.method:line`. Exits 1 if no sample is kept.

A sample's phase is that of the innermost frame matching one of PHASES'
patterns, so code generated while a plan is prepared counts as codegen,
a closure cleaned inside `runJob` as closure cleaning, and the analysis
an encoder runs to bind itself as analysis. A sample matching none is
"other": graft's own code, Scala collections, parquet I/O.
"""
import argparse
import collections
import json
import re
import sys

# Spark driver phases, matched against `pkg.Class.method` frame names.
PHASES = [
    ("analysis", r"^org\.apache\.spark\.sql\.catalyst\.analysis\."
                 r"|\.QueryExecution\.(assertAnalyzed|analyzed)"),
    ("optimizer", r"^org\.apache\.spark\.sql\.catalyst\.optimizer\."
                  r"|\.SparkOptimizer\.|\.QueryExecution\.optimizedPlan"),
    ("planning", r"^org\.apache\.spark\.sql\.catalyst\.planning\."
                 r"|\.SparkPlanner\.|\.SparkStrategies|\.execution\.adaptive\."
                 r"|\.QueryExecution[$]?\.(sparkPlan|executedPlan|prepareForExecution"
                 r"|prepareExecutedPlan|createSparkPlan)"),
    ("codegen", r"\.expressions\.codegen\.|^org\.codehaus\."
                r"|\.WholeStageCodegenExec\.doCodeGen"),
    ("encoder", r"^org\.apache\.spark\.sql\.catalyst\.(encoders\.|ScalaReflection"
                r"|DeserializerBuildHelper|SerializerBuildHelper)"),
    ("broadcast", r"^org\.apache\.spark\.broadcast\.|SerializableConfiguration[$]?\.broadcast"),
    ("closure cleaning", r"ClosureCleaner"),
    ("job submit", r"^org\.apache\.spark\.scheduler\.(DAGScheduler|JobWaiter)"
                   r"|^org\.apache\.spark\.SparkContext\.(runJob|submitJob)"),
]
PHASE_RES = [(name, re.compile(rx)) for name, rx in PHASES]
OTHER = "other"

# Thread groups, matched against the sampled thread's Java name.
THREADS = [
    ("driver main", r"^main$"),
    ("task", r"^Executor task launch worker"),
    ("AQE stage", r"^(shuffle-exchange|broadcast-exchange|ResultQueryStageExecution"
                  r"|QueryStageCreator|subquery)"),
    ("dag scheduler", r"^dag-scheduler-event-loop"),
]
THREAD_RES = [(name, re.compile(rx)) for name, rx in THREADS]


def thread_of(event):
    """The thread group of the sampled thread, else OTHER."""
    t = event.get("values", {}).get("sampledThread") or {}
    name = t.get("javaName") or t.get("osName") or ""
    return next((group for group, rx in THREAD_RES if rx.search(name)), OTHER)


def phase_of(frames):
    """The phase of the innermost frame that names one, else OTHER."""
    for name, _ in frames:
        for phase, rx in PHASE_RES:
            if rx.search(name):
                return phase
    return OTHER


def frames_of(event):
    """The event's stack, innermost frame first, as (class.method, line),
    and whether the recorder truncated it."""
    stack = event.get("values", {}).get("stackTrace") or {}
    out = []
    for f in stack.get("frames", []):
        m = f.get("method", {})
        # JVM internal names (`graft/pipeline/Dedup$`), but hidden
        # lambda classes are printed with dots
        cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
        out.append((f"{cls}.{m.get('name', '?')}", f.get("lineNumber", -1)))
    return out, bool(stack.get("truncated"))


def label(frame):
    """`Class.method:line`, with a Scala object's `$` suffix and a
    lambda class's id dropped."""
    name, line = frame
    name = re.sub(r"\$\$Lambda\$?\d+\+0x[0-9a-f]+/\d+", "$$Lambda", name)
    return f"{re.sub(r'[$](?=[.])', '', name)}:{line}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("json", help="output of `jfr print --json --stack-depth 1000`")
    ap.add_argument("--under", default=None)
    ap.add_argument("--top", type=int, default=30)
    ap.add_argument("--phases", action="store_true")
    ap.add_argument("--threads", action="store_true")
    args = ap.parse_args(argv)

    with open(args.json) as fh:
        events = json.load(fh)["recording"]["events"]
    under = re.compile(args.under) if args.under else None

    total = kept = truncated = outside = deepest = 0
    counts = collections.Counter()
    phases = collections.defaultdict(collections.Counter)
    totals = collections.Counter()
    threads = collections.defaultdict(collections.Counter)
    thread_totals = collections.Counter()
    for e in events:
        if e.get("type") != "jdk.ExecutionSample":
            continue
        total += 1
        frames, cut = frames_of(e)
        deepest = max(deepest, len(frames))
        if under and not any(under.search(f[0]) for f in frames):
            continue
        kept += 1
        truncated += cut
        phase = phase_of(frames)
        totals[phase] += 1
        group = thread_of(e)
        thread_totals[group] += 1
        graft = next((f for f in frames if f[0].startswith("graft.")), None)
        if graft is None:
            outside += 1
            continue
        counts[label(graft)] += 1
        phases[label(graft)][phase] += 1
        threads[label(graft)][group] += 1

    print(f"samples: {total} recorded, {kept} kept, {truncated} of them truncated, "
          f"{outside} with no graft frame")
    if total and deepest <= 5:
        print("warning: no stack is deeper than 5 frames; print with "
              "`jfr print --json --stack-depth 1000`", file=sys.stderr)
    if truncated:
        print(f"warning: {truncated} kept stacks were truncated; record with "
              "-XX:FlightRecorderOptions=stackdepth=2048", file=sys.stderr)
    if not kept:
        return 1
    width = max((len(str(n)) for n in counts.values()), default=1)
    print("innermost graft frame:")
    for lab, n in counts.most_common(args.top):
        split = ""
        if args.phases:
            split += "  [" + ", ".join(f"{p} {k}" for p, k in phases[lab].most_common()) + "]"
        if args.threads:
            split += "  [" + ", ".join(f"{t} {k}" for t, k in threads[lab].most_common()) + "]"
        print(f"  {n:>{width}}  {100.0 * n / kept:5.1f}%  {lab}{split}")
    if args.phases:
        print("by Spark phase (innermost phase frame of every kept sample):")
        for phase in [p for p, _ in PHASES] + [OTHER]:
            n = totals[phase]
            print(f"  {n:>{width}}  {100.0 * n / kept:5.1f}%  {phase}")
    if args.threads:
        print("by thread group (every kept sample):")
        for group in [t for t, _ in THREADS] + [OTHER]:
            n = thread_totals[group]
            print(f"  {n:>{width}}  {100.0 * n / kept:5.1f}%  {group}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
