"""Metric definitions: percentiles, span self time and the per-layer metrics
derived from a traced run's spans and Spark jobs."""

import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolated p-th percentile (0-100) of `values`."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """Highest percentile of TAIL_LADDER that has at least 10 of `n` samples
    beyond it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:   # 100.0 - 99.9 is not exactly 0.1
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    """{span id: duration minus the part of it its children cover}, in the
    spans' time unit. Children are clipped to their parent's interval."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                for c in by_parent.get(s["id"], [])]
        out[s["id"]] = (s["end_us"] - s["start_us"]) - union_length(kids)
    return out


class Trace:
    """Spans and jobs of a traced run, with subtree helpers."""

    def __init__(self, spans, jobs, scans=None):
        self.scans = scans or {}
        self.spans = {s["id"]: s for s in spans}
        self.kids = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s["id"])
        self.jobs_of = {}
        for j in jobs:
            self.jobs_of.setdefault(j["span"], []).append(j)
        self.self_us = self_times(spans)

    def named(self, name):
        return [s for s in self.spans.values() if s["name"] == name]

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.kids.get(x, []))
        return out

    def jobs(self, sid):
        return [j for x in self.subtree(sid) for j in self.jobs_of.get(x, [])]

    def scanned(self, jobs, key):
        """Sum of a file-scan metric ("bytes", "files", "rows") over the
        SQL executions these jobs belong to."""
        return sum(self.scans.get(str(e), {}).get(key, 0) for e in {j["execution"] for j in jobs})

    def under(self, root, name):
        """Spans called `name` in the subtree of `root`."""
        return [self.spans[x] for x in self.subtree(root["id"]) if self.spans[x]["name"] == name]

    def self_s(self, span):
        return self.self_us[span["id"]] / 1e6


def dur_s(span):
    return (span["end_us"] - span["start_us"]) / 1e6


def job_sum(jobs, key):
    return sum(j[key] for j in jobs)


def driver_gap_s(span, jobs):
    """Wall time of `span` not covered by any of its running jobs."""
    covered = union_length((max(j["start_us"], span["start_us"]), min(j["end_us"], span["end_us"]))
                           for j in jobs)
    return (span["end_us"] - span["start_us"] - covered) / 1e6


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


LSH_BANDS = 8  # Dedup.incrementalNearDup's default band count


def per_layer(names, workload, result, cores, gen_s, untraced_run_s, untraced_ops, truth, recall):
    """Every per-layer metric in `names` for one traced run. A metric of a
    layer the workload does not exercise reads 0."""
    tr = result["traced"]
    t = Trace(tr["spans"], tr["jobs"], tr["scans"])
    ops = t.named("op")
    m = {k: 0.0 for k in names}
    m["session.start_s"] = result["session_s"]
    m["session.gen_s"] = gen_s
    m["session.warmup_s"] = result["warmup_s"]
    traced_run_s = (max(s["end_us"] for s in ops) - min(s["start_us"] for s in ops)) / 1e6 if ops else 0.0
    if ops and untraced_ops and untraced_run_s > 0:
        m["trace.overhead"] = (traced_run_s / len(ops)) / (untraced_run_s / untraced_ops)

    def per_op(name):
        """Per op, the summed self time of its spans called `name`; median
        over ops."""
        return median([sum(t.self_s(s) for s in t.under(op, name)) for op in ops])

    if workload == "etl_nightly":
        loads = t.named("etl.load")
        load_jobs = [t.jobs(s["id"]) for s in loads]
        m["io.scan_bytes"] = median([t.scanned(j, "bytes") for j in load_jobs])
        m["io.scan_rows"] = median([t.scanned(j, "rows") for j in load_jobs])
        m["io.write_s"] = per_op("io.write")
        m["io.write_bytes"] = median([job_sum(j, "output_bytes") for j in load_jobs])
        m["io.files_written"] = median([s["attrs"]["files"] for s in loads])
        m["etl.dims_s"] = per_op("etl.dims")
        m["etl.facts_s"] = per_op("etl.facts")
        m["etl.jobs_per_load"] = median([len(j) for j in load_jobs])
        m["etl.core_busy_share"] = median([job_sum(j, "run_s") / (dur_s(s) * cores)
                                           for s, j in zip(loads, load_jobs)])
        m["etl.driver_gap_s"] = median([driver_gap_s(s, j) for s, j in zip(loads, load_jobs)])
        m["etl.shuffle_write_bytes"] = median([job_sum(j, "shuffle_write_bytes") for j in load_jobs])
        m["etl.spill_bytes"] = median([job_sum(j, "spill_bytes") for j in load_jobs])
        m["etl.gc_s"] = median([s["gc_s"] for s in loads])
        amp, kept = [], []
        by_label = {o["label"]: o for o in tr["ops"] if o["ok"]}
        for op in ops:
            rec = by_label.get(op["attrs"].get("label"))
            if not rec:
                continue
            night = int(rec["label"].split("-")[1])
            new_rows = sum(truth["nights"][night - 1][tb]["rows"] for tb in ("orders", "lineitem"))
            amp.append(sum(rec["attrs"]["rows"].values()) / new_rows)
            kept.append(clean_kept(rec["attrs"]["rows"], truth, night)[0])
        m["io.write_amplification"] = median(amp)
        m["etl.clean_kept_ratio"] = median(kept)
    elif workload == "bi_dashboard":
        queries = t.named("analytics.query")
        q_jobs = [t.jobs(s["id"]) for s in queries]
        m["analytics.plan_s"] = median([dur_s(s) for s in t.named("analytics.plan")])
        m["analytics.exec_s"] = median([dur_s(s) for s in t.named("analytics.exec")])
        m["analytics.jobs_per_query"] = mean([len(j) for j in q_jobs])
        m["analytics.tasks_per_query"] = mean([job_sum(j, "tasks") for j in q_jobs])
        busy = sum(job_sum(j, "run_s") for j in q_jobs)
        m["analytics.core_busy_share"] = busy / (traced_run_s * cores) if traced_run_s else 0.0
        m["analytics.driver_gap_s"] = median([driver_gap_s(s, j) for s, j in zip(queries, q_jobs)])
        m["analytics.sched_wait_s"] = median([job_sum(j, "sched_wait_s") for j in q_jobs])
        m["analytics.scan_bytes_per_query"] = mean([t.scanned(j, "bytes") for j in q_jobs])
        m["io.scan_bytes"] = median([t.scanned(j, "bytes") for j in q_jobs])
        m["io.scan_rows"] = median([t.scanned(j, "rows") for j in q_jobs])
        m["etl.facts_s"] = median([dur_s(s) for s in t.named("etl.facts")])
    elif workload == "corpus_ingest":
        for name, key in (("text.quality", "text.quality_s"), ("dedup.exact", "dedup.exact_s"),
                          ("dedup.minhash", "dedup.minhash_s"), ("dedup.probe", "dedup.probe_s"),
                          ("operators.sample", "operators.sample_s"),
                          ("pipeline.curate", "pipeline.curate_s"), ("io.write", "io.write_s")):
            m[key] = per_op(name)
        probes = t.named("dedup.probe")
        cands = [s["attrs"]["candidate_pairs"] for s in probes]
        m["dedup.candidate_pairs"] = median(cands)
        m["dedup.pair_yield"] = (sum(s["attrs"]["pairs"] for s in probes) / sum(cands)) if sum(cands) else 0.0
        m["dedup.index_rows"] = median([s["attrs"]["corpus_rows"] * LSH_BANDS for s in t.named("dedup.index")])
        m["dedup.near_dup_recall"] = recall
        writes = t.named("io.write")
        m["io.files_written"] = median([s["attrs"]["files"] for s in writes])
        m["io.write_bytes"] = median([job_sum(t.jobs(s["id"]), "output_bytes") for s in writes])
        op_jobs = [t.jobs(op["id"]) for op in ops]
        m["io.scan_bytes"] = median([t.scanned(j, "bytes") for j in op_jobs])
        m["io.scan_rows"] = median([t.scanned(j, "rows") for j in op_jobs])
        busy = sum(job_sum(j, "run_s") for j in op_jobs)
        m["pipeline.core_busy_share"] = busy / (traced_run_s * cores) if traced_run_s else 0.0
        m["pipeline.cache_bytes"] = median([s["attrs"]["cache_bytes"] for s in t.named("pipeline.cache")])
    return {k: m[k] for k in names}


DIM_INPUTS = {"dim_customer": "customer", "dim_supplier": "supplier",
              "dim_part": "part", "dim_order": "orders"}


def clean_kept(rows, truth, nights):
    """(measured, expected) share of dimension input rows that survive the
    cleaning step after `nights` nights landed. Expected: every row but the
    generator's null and re-sent rows."""
    def total(table, key):
        base = truth["tables"][table][key]
        if table == "orders":
            base += sum(n["orders"][key] for n in truth["nights"][:nights])
        return base
    rows_in = sum(total(t, "rows") for t in DIM_INPUTS.values())
    dirty = sum(total(t, "null_rows") + total(t, "dup_rows") for t in DIM_INPUTS.values())
    rows_out = sum(rows[d] for d in DIM_INPUTS)
    return rows_out / rows_in, (rows_in - dirty) / rows_in
