"""The benchmark's arithmetic: percentiles, recall, the store ratio, call-site
attribution and span self time. Pure functions over plain lists and dicts,
tested by test_stats.py."""

import os
import re
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile, n), or None when there are too few samples
    to leave TAIL_BEYOND beyond any of them. With n samples sorted, the
    sample at rank n - TAIL_BEYOND (1-based) has exactly TAIL_BEYOND
    samples above it and sits at percentile 100 * (n - TAIL_BEYOND) / n.
    """
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    s = sorted(xs)
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def recall(result, truth, k):
    """Share of the exact top-k that a result list found, over its first k."""
    want = set(truth[:k])
    if not want:
        return 1.0
    return len(want & set(result[:k])) / len(want)


def mean_recall(results, truths, k):
    """Mean recall@k over paired lists of per-query id lists."""
    return statistics.fmean(recall(r, t, k) for r, t in zip(results, truths))


def disk_per_input(layout_bytes, live_rows, dims, bytes_per_value=4):
    """Layout bytes on disk per byte of live f32 vector data."""
    return layout_bytes / (live_rows * dims * bytes_per_value)


SITE = re.compile(r"\bat ([A-Za-z0-9_$]+\.(?:scala|java)):\d+")


def source_index(repo):
    """Map each source file name of the engine to its package under graft/
    (files directly in graft/ map to "entry"), and each harness file to
    "bench"."""
    index = {}
    for base, top in (("src/main/scala/graft", None), ("src/main/java/graft", None),
                      ("perfbench/harness/src", "bench")):
        root = os.path.join(repo, base)
        for d, _, names in os.walk(root):
            rel = os.path.relpath(d, root)
            pkg = top or ("entry" if rel == "." else rel.split(os.sep)[0])
            for n in names:
                if n.endswith((".scala", ".java")):
                    index[n] = pkg
    return index


def package_of(site, index):
    """Package of the code that started a Spark job, from the job's short
    call site ("collect at Compaction.scala:87"); "other" when the site
    names no known source file."""
    m = SITE.search(site or "")
    return index.get(m.group(1), "other") if m else "other"


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span name: each span's duration minus the part of it
    its children cover. Spans are dicts with id, parent, name, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        own = (s["end"] - s["start"]) - covered(children.get(s["id"], []),
                                                s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, the run-to-run spread the benchmark is judged by."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
