"""Per-layer metrics and self times from a traced run's span file.

Every figure counts only the spans under timed passes. "Per pass" figures
are sums over those passes divided by their number. A metric whose layer
the workload does not exercise reads 0.
"""
import json

# the graft.ops modules the query mixes draw on
MODULES = ["Relational", "Caliper", "TextAnalysis", "Dedup", "Similarity",
           "Curation", "Multimodal", "Graph", "EtlQueries", "StreamingQueries"]

UNITS = {
    "etl.task_s": "s", "etl.commit_s": "s", "etl.files_per_attempt": "count",
    "etl.forks_per_attempt": "count",
    "batch.construct_s": "s", "batch.action_s": "s", "batch.jobs": "count",
    "batch.catalyst_s": "s", "batch.task_s": "s", "batch.shuffle_write_mb": "MB",
    "batch.spill_mb": "MB",
    **{f"ops.{m}.s": "s" for m in MODULES},
    "stream.batches": "count", "stream.addbatch_s": "s",
    "stream.state_commit_s": "s", "stream.log_s": "s",
    "stream.forks_per_query": "count", "stream.scratch_mb_per_query": "MB",
    "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB",
}


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans):
    """Seconds per layer not covered by the span's children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur = 0.0, lo
        for a, b in sorted((max(c["start_ms"], lo), min(c["end_ms"], hi))
                           for c in children.get(s["id"], [])):
            if b <= cur:
                continue
            covered += b - max(a, cur)
            cur = b
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo - covered) / 1000.0
    return out


def reduce(spans_path, attempts, files):
    """(per-layer metrics, self seconds per pass by layer) of one run."""
    spans = load(spans_path)
    by_id = {s["id"]: s for s in spans}
    passes = {s["id"] for s in spans if s["layer"] == "pass" and s.get("timed")}
    n = max(1, len(passes))

    def timed_pass(s):
        while s["parent"]:
            s = by_id[s["parent"]]
        return s["id"] in passes

    spans = [s for s in spans if timed_pass(s) or s["id"] in passes]

    def under(s, layer):
        while s["parent"]:
            s = by_id[s["parent"]]
            if s["layer"] == layer:
                return s
        return None

    def layer(name):
        return [s for s in spans if s["layer"] == name]

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1000.0

    ops = layer("operation")
    etl = [o for o in ops if o.get("module") == "graft.etl"]
    query_ids = {o["id"] for o in ops if o.get("module") != "graft.etl"}
    streams = [o for o in ops if o.get("module") == "StreamingQueries"]
    stages = layer("stage")
    m = {}
    etl_ids = {o["id"] for o in etl}
    etl_stages = [s for s in stages if (under(s, "operation") or {}).get("id") in etl_ids]
    m["etl.task_s"] = sum(s["task_ms"] for s in etl_stages) / 1000.0 / max(1, len(etl))
    commits = []
    for o in etl:
        last = max((s["last_task_end"] for s in etl_stages
                    if under(s, "operation")["id"] == o["id"]), default=None)
        write = [s for s in layer("action") if s["parent"] == o["id"]]
        if last is not None and write:
            commits.append(max(0.0, write[0]["end_ms"] - last) / 1000.0)
    m["etl.commit_s"] = sum(commits) / len(commits) if commits else 0.0
    m["etl.files_per_attempt"] = files / attempts if attempts else 0.0
    m["etl.forks_per_attempt"] = (sum(o["forks"] for o in etl) / attempts
                                  if attempts else 0.0)
    m["batch.construct_s"] = sum(dur(s) for s in layer("construct")
                                 if s["parent"] in query_ids) / n
    m["batch.action_s"] = sum(dur(s) for s in layer("action")
                              if s["parent"] in query_ids) / n
    m["batch.jobs"] = len(layer("job")) / n
    m["batch.catalyst_s"] = sum(dur(s) for s in layer("catalyst")) / n
    m["batch.task_s"] = sum(s["task_ms"] for s in stages) / 1000.0 / n
    m["batch.shuffle_write_mb"] = sum(s["shuffle_write_bytes"] for s in stages) / 1e6 / n
    m["batch.spill_mb"] = sum(s["spill_bytes"] for s in stages) / 1e6 / n
    for mod in MODULES:
        m[f"ops.{mod}.s"] = sum(dur(o) for o in ops if o.get("module") == mod) / n
    batches = layer("microbatch")
    m["stream.batches"] = len(batches) / n
    m["stream.addbatch_s"] = sum(b["addbatch_ms"] for b in batches) / 1000.0 / n
    m["stream.state_commit_s"] = sum(b["state_commit_ms"] for b in batches) / 1000.0 / n
    m["stream.log_s"] = sum(b["log_ms"] for b in batches) / 1000.0 / n
    m["stream.forks_per_query"] = (sum(o["forks"] for o in streams) / len(streams)
                                   if streams else 0.0)
    m["stream.scratch_mb_per_query"] = (sum(o["scratch_bytes"] for o in streams)
                                        / 1e6 / len(streams) if streams else 0.0)
    m["jvm.gc_s"] = sum(s["gc_ms"] for s in layer("pass")) / 1000.0 / n
    detail = {k: v / n for k, v in self_times(spans).items()}
    return m, detail
