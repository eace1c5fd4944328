"""Per-layer metrics from one traced unit: span tree + event-log fold.

A traced unit is one ``run_wave`` pass plus the corpus-operator set
(``batch``) or one two-call crawl (``trickle``). Durations are
inclusive (a span's time contains its children's); ``self_s`` is the
span's duration minus the time its children cover.
"""

from __future__ import annotations

import statistics

from check import OPERATORS

STORE_TABLES = ("frontier", "articles", "seen", "candidates", "seen_shards",
                "fetch_log", "lineage", "phase_log", "host_policy",
                "trap_state")


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def add_waves(spans: list[dict]) -> list[dict]:
    """Insert a ``wave`` span per pointer flip under each ``crawl.call``:
    from the previous flip of that call (or the call's start) to the
    flip. Spans of the call that start inside a wave move under it."""
    next_id = max(s["id"] for s in spans) + 1
    waves = []
    for call in (s for s in spans if s["name"] == "crawl.call"):
        # wave -1 is the pointer armed before wave 0, not a wave
        flips = sorted((s for s in spans if s["name"] == "store.flip"
                        and s["parent"] == call["id"]
                        and s["attrs"]["wave"] >= 0), key=lambda s: s["end"])
        start = call["start"]
        for f in flips:
            waves.append({"id": next_id, "name": "wave", "parent": call["id"],
                          "start": start, "end": f["end"], "group": None,
                          "attrs": {"wave": f["attrs"]["wave"]}})
            next_id += 1
            start = f["end"]
    for s in spans:
        for w in waves:
            if s["parent"] == w["parent"] and w["start"] <= s["start"] < w["end"]:
                s["parent"] = w["id"]
                break
    return spans + waves


def add_self_times(spans: list[dict]) -> None:
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self_s"] = _dur(s) - _covered(s["start"], s["end"],
                                         kids.get(s["id"], ()))


def _descendants(spans: list[dict], root: dict) -> list[dict]:
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


def _skew(group: dict) -> float:
    """max/median task time of the group's busiest stage."""
    stages = [ms for ms in group["stage_ms"].values() if ms]
    if not stages:
        return 0.0
    ms = max(stages, key=sum)
    med = statistics.median(ms)
    return max(ms) / med if med else 0.0


def per_layer(spans: list[dict], groups: dict, unit: dict,
              n_docs: int) -> dict[str, float]:
    """Every per-layer metric of the traced unit (0 where the layer did
    not run). ``spans`` must already carry waves and self times."""
    tree = _descendants(spans, unit)
    named: dict[str, list[dict]] = {}
    for s in tree:
        named.setdefault(s["name"], []).append(s)
    by_id = {s["id"]: s for s in tree}

    def spans_of(*names):
        return [s for n in names for s in named.get(n, ())]

    def total(*names):
        return sum(_dur(s) for s in spans_of(*names))

    def attr(key, *names):
        return sum(s["attrs"].get(key, 0) for s in spans_of(*names))

    def fold(field, ss):
        return sum(groups.get(s["group"], {}).get(field, 0) for s in ss)

    m: dict[str, float] = {}
    fetch = spans_of("wave.fetch_parse")
    m["fetch.s"] = total("wave.fetch_parse")
    m["fetch.rows"] = attr("rows", "wave.fetch_parse")
    skews = [_skew(groups[s["group"]]) for s in fetch if s["group"] in groups]
    m["fetch.task_skew"] = statistics.median(skews) if skews else 0.0
    py_ms = fold("python_worker_ms", fetch)
    m["python.worker_s"] = py_ms / 1000
    m["python.bytes_sent"] = fold("python_bytes_sent", fetch)
    m["python.bytes_returned"] = fold("python_bytes_returned", fetch)
    run_ms = fold("run_ms", fetch)
    m["python.share"] = py_ms / run_ms if run_ms else 0.0

    m["wave.discover_s"] = total("wave.collect_candidates")
    m["wave.discover_calls"] = len(spans_of("wave.collect_candidates"))
    m["wave.cards"] = attr("rows", "wave.collect_candidates")
    m["wave.hydrate_s"] = total("wave.hydrate_batch")
    # the loop's own time: wave (or pass) wall not covered by any span
    loops = spans_of("wave") or spans_of("unit.pass")
    m["wave.untraced_s"] = sum(s["self_s"] for s in loops)
    loop_wall = sum(_dur(s) for s in loops)
    m["trace.coverage"] = 1 - m["wave.untraced_s"] / loop_wall if loop_wall else 0.0

    m["seen.probe_s"] = total("seen.probe_shards")
    m["seen.probe_rows"] = attr("rows", "seen.probe_shards")
    m["seen.suspects"] = attr("suspects", "seen.probe_shards")
    backstop_s = fp = 0.0
    for d in spans_of("seen.dedup_against_seen"):
        kids = [s for s in tree if s["parent"] == d["id"]]
        anti = [s for s in kids if s["name"] == "dedup.pruned_anti_join"]
        backstop_s += sum(_dur(s) for s in anti)
        if any(s["name"] == "seen.probe_shards" for s in kids):
            # suspects the exact backstop lets through were false positives
            fp += sum(s["attrs"].get("rows", 0) for s in anti)
    m["seen.fp_observed"] = fp
    m["seen.fold_s"] = total("seen.build_shards", "seen.update_shards")
    commits = spans_of("store.commit")
    m["seen.blob_bytes"] = sum(s["attrs"].get("bytes", 0) for s in commits
                               if s["attrs"]["table"] == "seen_shards")
    m["dedup.backstop_s"] = backstop_s
    m["dedup.insert_s"] = total("dedup.tiered_insert_dedup")

    m["admit.s"] = total("frontier.eligible_pending", "politeness.compose_wave")
    m["admit.pending_rows"] = attr("rows", "frontier.eligible_pending")
    m["admit.batch_rows"] = attr("rows", "politeness.compose_wave")
    m["admit.ratio"] = (m["admit.batch_rows"] / m["admit.pending_rows"]
                        if m["admit.pending_rows"] else 0.0)
    m["admit.scan_bytes"] = fold("input_bytes",
                                 spans_of("frontier.eligible_pending"))
    m["politeness.decorate_s"] = total("politeness.decorate_robots_ok")
    m["politeness.adapt_s"] = total("politeness.adapt_host_policy")
    # a wave's first record_results is its delta (outcome rows); a
    # compaction wave's second one re-states the whole frontier
    retried = 0
    for w in spans_of("wave"):
        rr = sorted((s for s in tree if s["name"] == "frontier.record_results"
                     and _inside(s, w, by_id)), key=lambda s: s["start"])
        retried += rr[0]["attrs"].get("retried", 0) if rr else 0
    m["frontier.retried_rows"] = retried
    m["traps.fold_s"] = total("traps.host_trap_counts", "traps.update_trap_state")

    m["store.commit_busy_s"] = total("store.commit")
    for t in STORE_TABLES:
        m[f"store.commit_busy_s.{t}"] = sum(
            _dur(s) for s in commits if s["attrs"]["table"] == t)
    critical = 0.0
    for w in spans_of("wave"):
        inside = [s for s in commits if _inside(s, w, by_id)]
        if inside:
            critical += w["end"] - min(s["start"] for s in inside)
    m["store.commit_critical_s"] = critical
    m["store.commits"] = len(commits)
    m["store.full_commits"] = sum(1 for s in commits
                                  if s["attrs"]["mode"] == "full")
    m["store.bytes_written"] = sum(s["attrs"].get("bytes", 0) for s in commits)
    m["store.read_s"] = total("store.read")
    m["store.chain_len_max"] = max((s["attrs"].get("chain", 0) for s in commits),
                                   default=0)
    m["store.rollback_s"] = total("store.rollback")
    m["store.rollbacks"] = len(spans_of("store.rollback"))
    m["store.expire_s"] = total("store.expire")

    unit_groups = [s for s in tree if s["group"]]
    n_loops = len(loops) or 1
    m["spark.jobs_per_wave"] = fold("jobs", [s for s in unit_groups
                                             if not s["name"].startswith("ops.")]) / n_loops
    m["spark.tasks"] = fold("tasks", unit_groups)
    m["spark.task_cpu_s"] = fold("cpu_ns", unit_groups) / 1e9
    m["spark.gc_s"] = fold("gc_ms", unit_groups) / 1000
    m["spark.scheduler_delay_s"] = fold("scheduler_delay_ms", unit_groups) / 1000
    m["spark.shuffle_bytes"] = (fold("shuffle_read_bytes", unit_groups)
                                + fold("shuffle_write_bytes", unit_groups))
    m["spark.spill_bytes"] = fold("spill_bytes", unit_groups)
    m["spark.task_failures"] = fold("task_failures", unit_groups)

    ops_wall = 0.0
    for op in OPERATORS.values():
        ss = spans_of(f"ops.{op}")
        m[f"ops.{op}_s"] = sum(_dur(s) for s in ss)
        m[f"ops.{op}_jobs"] = fold("jobs", [x for s in ss
                                            for x in _descendants(tree, s)])
        ops_wall += m[f"ops.{op}_s"]
    m["ops.docs_per_s"] = n_docs / ops_wall if ops_wall else 0.0
    return m


def _inside(s: dict, ancestor: dict, by_id: dict) -> bool:
    p = s["parent"]
    while p is not None:
        if p == ancestor["id"]:
            return True
        p = by_id[p]["parent"] if p in by_id else None
    return False
