"""Seeded single-process input generator for the benchmark workloads.

Everything a run reads is derived from (workload, seed) here, written
once per seed and reused by later runs with the same seed:

- nozzle workloads: firehose replay files (one parquet file per
  micro-batch, the `events` surrogate schema the nozzle source reads)
  plus a manifest holding the counters the nozzle must report and the
  publisher fault plan;
- batch_queries: the two tables the query subset reads (`events` and
  `documents`), shaped like the project's test data.

The fault plan is a pure function of (seed, event_id): `fault_attempts`
below and `Faults.failures` on the JVM side implement the same
splitmix64 rule, and the manifest's expected counters come from it.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Replay clock: event i is stamped T0 + i ms (+ sub-ms jitter), so the
# publisher can recover event_id from the payload's "timestamp".
T0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

# Surrogate event type -> envelope type code (NozzlePipeline.envelopeColumn).
# The surrogate has no type that assembles into ContainerMetric (9).
TYPE_CODE = {"click": 5, "view": 6, "signup": 7, "purchase": 4, "error": 8}

# Traffic shared by both nozzle workloads, modelled on the project's
# test data; README.md ("Traffic dimensions") gives the source of each
# value. Log lines are the `props` of click events.
NOZZLE_TRAFFIC = dict(
    type_mix={t: 0.2 for t in TYPE_CODE},
    app_ids=1000,
    log_words=dict(min=10, max=100),
    value_mean=50.0)

WORKLOADS = {
    # Large micro-batches and a publisher that never fails: per-event
    # work (read, envelope, route, JSON) outweighs per-batch cost.
    "nozzle_bulk": dict(
        NOZZLE_TRAFFIC, events_per_file=50_000, files=3,
        faults=dict(permanent_per_10k=0, transient_per_10k=0, max_transient=0)),
    # 1k-event micro-batches and a publisher that fails 2 % of records
    # for good (to the DLQ) and another 2 % once before succeeding (the
    # reference's repartition case).
    "nozzle_trickle_faults": dict(
        NOZZLE_TRAFFIC, events_per_file=1_000, files=4,
        faults=dict(permanent_per_10k=200, transient_per_10k=200, max_transient=1)),
    # The batch query subset's two tables, shaped and sized like the
    # project's sf0.01 test data (the scale its oracle check runs at).
    "batch_queries": dict(events=10_000, users=150, documents=500, dup_share=0.05),
}

# envelope type code -> the Stats counter it increments
COUNTER = {4: "consume_http_start_stop", 6: "consume_value_metric",
           7: "consume_counter_event", 5: "consume_log_message",
           8: "consume_error", -1: "consume_unknown"}

# The reference's example config (log-%s, metric) plus the per-app
# HttpStartStop template; CounterEvent and Error topics stay unset, as
# there, so those events are counted as ignored.
TOPICS = dict(log_message_fmt="log-%s", http_start_stop_fmt="http-%s",
              value_metric="metric", counter_event="", error="")
# the reference's default retry bound (kafka.go:20-26)
REPARTITION_MAX = 5


def splitmix64(x):
    """splitmix64 finalizer over a numpy uint64 array (wrapping arithmetic)."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def fault_attempts(seed, event_ids, faults):
    """Failing attempts before success per event: 0 = ok, -1 = never
    succeeds, k > 0 = fails k times and then succeeds."""
    with np.errstate(over="ignore"):
        h = splitmix64(np.uint64(seed) * np.uint64(0x2545F4914F6CDD1D)
                       + event_ids.astype(np.uint64))
    r = (h % np.uint64(10_000)).astype(np.int64)
    perm, trans = faults["permanent_per_10k"], faults["transient_per_10k"]
    k = 1 + (h >> np.uint64(32)) % np.uint64(max(1, faults["max_transient"]))
    out = np.where(r < perm + trans, k.astype(np.int64), 0)
    return np.where(r < perm, -1, out)


DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()


def texts(rng, n, lo=10, hi=100):
    """n texts shaped like the test data's documents.text: lo..hi
    words drawn uniformly from its 31-word vocabulary."""
    words = np.array(DOC_WORDS)
    return [" ".join(words[rng.integers(0, len(words), int(k))])
            for k in rng.integers(lo, hi + 1, n)]


def write_nozzle(root, name, seed):
    spec = WORKLOADS[name]
    rng = np.random.default_rng([seed, 1])
    types = list(spec["type_mix"])
    probs = np.array([spec["type_mix"][t] for t in types])
    probs = probs / probs.sum()
    per = spec["events_per_file"]
    expected = dict.fromkeys(
        list(COUNTER.values()) + ["consume", "consume_container_metric", "ignored",
                                  "forwarded", "publish", "publish_fail",
                                  "slow_consumer_alert", "delay"], 0)
    dlq = []
    os.makedirs(os.path.join(root, "replay"))
    for f in range(spec["files"]):
        ids = np.arange(f * per, (f + 1) * per, dtype=np.int64)
        et = np.array(types)[rng.choice(len(types), per, p=probs)]
        ts = T0_US + ids * 1000 + rng.integers(0, 1000, per)
        users = rng.integers(0, spec["app_ids"], per)
        value = np.round(rng.exponential(spec["value_mean"], per), 2)
        lines = iter(texts(rng, int((et == "click").sum()),
                           spec["log_words"]["min"], spec["log_words"]["max"]))
        props = [next(lines) if t == "click" else f'{{"k": {k}}}'
                 for t, k in zip(et, rng.integers(0, 100, per))]
        table = pa.table({
            "event_id": ids,
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": users.astype(np.int64),
            "event_type": et,
            "value": value,
            "props": props,
        })
        pq.write_table(table, os.path.join(root, "replay", f"part-{f:05d}.parquet"))
        codes = np.select([et == t for t in types], [TYPE_CODE[t] for t in types], -1)
        # the types with a topic in TOPICS: HttpStartStop, LogMessage, ValueMetric
        routed = np.isin(codes, (4, 5, 6))
        perm = routed & (fault_attempts(seed, ids, spec["faults"]) == -1)
        counts = {COUNTER[c]: int((codes == c).sum()) for c in COUNTER}
        counts.update(consume=per, ignored=int((~routed).sum()),
                      forwarded=int(routed.sum()), publish_fail=int(perm.sum()),
                      publish=int((routed & ~perm).sum()))
        for k, v in counts.items():
            expected[k] += v
        dlq += ids[perm].tolist()
    # the warm-up drain replays a copy of the first file
    os.makedirs(os.path.join(root, "warm"))
    shutil.copy(os.path.join(root, "replay", "part-00000.parquet"), os.path.join(root, "warm"))
    manifest = dict(workload=name, seed=seed, t0_us=T0_US, topics=TOPICS,
                    repartition_max=REPARTITION_MAX, faults=spec["faults"],
                    events=spec["files"] * per, files=spec["files"], warm_events=per,
                    events_per_file=per, expected=expected, dlq_ids=dlq)
    return manifest


LANGS = ["en", "de", "es", "fr", "zh"]


def write_batch(root, seed):
    spec = WORKLOADS["batch_queries"]
    rng = np.random.default_rng([seed, 2])
    n = spec["events"]
    ids = np.arange(n, dtype=np.int64)
    # sorted event times over 30 days and the other columns drawn as in
    # the project's test data
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + T0_US
    et = np.array(list(TYPE_CODE))[rng.integers(0, len(TYPE_CODE), n)]
    pq.write_table(pa.table({
        "event_id": ids,
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, spec["users"], n).astype(np.int64),
        "event_type": et,
        "value": np.round(rng.exponential(NOZZLE_TRAFFIC["value_mean"], n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }), os.path.join(root, "events.parquet"))

    d = spec["documents"]
    docs = texts(rng, d)
    # near-duplicates: a share of documents repeat another one plus a marker
    for i in rng.choice(d, int(d * spec["dup_share"]), replace=False):
        j = int(rng.integers(0, d))
        if j != i:
            docs[i] = docs[j] + " dup"
    lang = np.array(LANGS)[rng.choice(5, d, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    pq.write_table(pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": docs,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in docs], dtype=np.int64),
    }), os.path.join(root, "documents.parquet"))

    return dict(workload="batch_queries", seed=seed, tables=spec)


def ensure(data_root, workload, seed):
    """Generate (workload, seed) inputs unless already present; returns
    the input directory. The name carries a hash of the workload's
    definition, so a changed definition never reuses old files."""
    tag = hashlib.sha256(json.dumps(WORKLOADS[workload], sort_keys=True).encode()).hexdigest()
    root = os.path.join(data_root, f"{workload}-{tag[:12]}-seed{seed}")
    done = os.path.join(root, "manifest.json")
    if os.path.exists(done):
        return root
    tmp = root + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    if workload == "batch_queries":
        manifest = write_batch(tmp, seed)
    else:
        manifest = write_nozzle(tmp, workload, seed)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, root)
    return root
