"""Seeded input generator: Kinesis batches for the consumer workloads,
with the outcome each batch must have under the pipeline's contract, and
the `events` and `documents` tables the analytics workload queries.

A batch is a list of Kinesis records `(eventID, shardId, partitionKey,
data)`, with `data` the base64 of a JSON payload. The pipeline sees only
these records; the schedule of failures and rejections is carried by the
payloads and known here, so every outcome can be checked.
"""
import base64
import json
import random

# Failing task nodes, as the task registry names them. A `once` node fails
# its first attempt; a `perm` node fails every attempt and is discarded
# once `maxNumberOfAttempts` (2) attempts are used. The root `t1` never
# fails permanently: a discarded parent leaves its sub-task unstarted, so
# the message would block its chain on every later delivery.
ONCE_KINDS = ("t1:once", "c1:once", "t2:once")
PERM_KINDS = ("c1:perm", "t2:perm")
TRICKLE_NODES = ("t1", "c1", "t2")

# Counts are per batch and fixed, so every seed gives batches of the same
# shape: trickle batches take exactly three deliveries (the permanent
# failure's chain needs two redeliveries; each transient failure sits in a
# chain of its own and needs one), backlog batches exactly one.
WORKLOADS = {
    "consumer_trickle": {
        "kind": "trickle", "records": 1000, "warmup_records": 200,
        "shards": 8, "users": 500, "undecodable": 3, "nokey": 0,
        "perm": 1, "once": 3,
    },
    "consumer_backlog": {
        "kind": "backlog", "records": 10000, "warmup_records": 200,
        "shards": 4, "users": 2500, "undecodable": 100, "nokey": 100,
        "perm": 0, "once": 0,
    },
}

# The analytics workload: registry queries over generated tables shaped
# like the engine's `events` and `documents` test tables, each query with
# the table it reads.
ANALYTICS = {
    "events": 10000, "documents": 1000,
    "tables": {"decode_json": "events", "identify_ids": "events",
               "seq_per_key": "events", "dead_letters": "events",
               "state_upsert": "events", "task_multi": "events",
               "session_stats": "events", "heaps_law": "documents"},
}
ANALYTICS["queries"] = tuple(ANALYTICS["tables"])

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "en", "de", "es", "fr", "zh")
VOCAB = ("the", "a", "fast", "slow", "big", "small", "key", "order", "sort",
         "table", "scan", "merge", "part", "window", "hash", "join", "batch",
         "stream", "spark", "dup", "group", "query", "row", "data", "filter",
         "customer", "line", "value", "agg", "column", "vector")


class Batch:
    """One generated batch and its expected outcome."""

    def __init__(self, index):
        self.index = index
        self.records = []        # (eventID, shardId, partitionKey, data)
        self.usable = []         # eids that reach task execution, in order
        self.shard_of = {}       # eid -> shardId
        self.undecodable = set() # eids with a payload that is not JSON
        self.rejected = set()    # eids without the key property
        self.fail = {}           # eid -> fail kind

    @property
    def permanent(self):
        return {e for e, k in self.fail.items() if k.endswith(":perm")}

    def deliveries(self):
        """Deliveries until no message is incomplete. Chains run one
        failure step per delivery: a `once` failure costs one redelivery,
        a `perm` failure two (its second attempt, then the discard)."""
        extra = {}
        for e in self.usable:
            k = self.fail.get(e)
            cost = 0 if k is None else (1 if k.endswith(":once") else 2)
            extra[self.shard_of[e]] = extra.get(self.shard_of[e], 0) + cost
        return 1 + max(extra.values(), default=0)

    def invocations(self, kind):
        """Expected task invocations, keyed `node|eid`."""
        inv = {}
        for e in self.usable:
            if kind == "backlog":
                inv[f"processOne|{e}"] = 1
                continue
            for node in TRICKLE_NODES:
                inv[f"{node}|{e}"] = 1
            k = self.fail.get(e)
            if k is not None:
                inv[f"{k.split(':')[0]}|{e}"] = 2
        return inv

    def dead_letters(self):
        """eid -> envelope kind, exactly one per entry."""
        dl = {e: "DR" for e in self.undecodable}
        dl.update({e: "DM" for e in self.rejected | self.permanent})
        return dl


def _b64(text):
    return base64.b64encode(text.encode("utf-8")).decode("ascii")


def _scaled(count, n, records):
    """A per-batch count scaled to an n-record batch, at least 1 if any."""
    return max(1, count * n // records) if count else 0


def generate(workload, seed, n_batches, stream="timed"):
    """Deterministic batches for (workload, seed, stream); warm-up batches
    have `warmup_records` records and the same per-batch counts."""
    spec = WORKLOADS[workload]
    n = spec["warmup_records" if stream == "warmup" else "records"]
    rng = random.Random(f"{workload}:{seed}:{stream}")
    tag = stream[0]
    batches = []
    ts = 1_700_000_000_000_000
    for b in range(n_batches):
        batch = Batch(b)
        shards = [f"shardId-{rng.randrange(spec['shards']):012d}"
                  for _ in range(n)]
        eids = [f"{shards[i]}:{tag}{b:06d}{i:06d}" for i in range(n)]
        n_bad, n_nokey = (_scaled(spec[k], n, spec["records"])
                          for k in ("undecodable", "nokey"))
        picks = rng.sample(range(n), n_bad + n_nokey)
        batch.undecodable = {eids[i] for i in picks[:n_bad]}
        batch.rejected = {eids[i] for i in picks[n_bad:]}
        # one failing record per chosen shard, the permanent one first
        free = [i for i in range(n) if eids[i] not in batch.undecodable
                and eids[i] not in batch.rejected]
        chosen = rng.sample(sorted(set(shards)), spec["perm"] + spec["once"])
        for j, shard in enumerate(chosen):
            i = rng.choice([i for i in free if shards[i] == shard])
            kinds = PERM_KINDS if j < spec["perm"] else ONCE_KINDS
            batch.fail[eids[i]] = rng.choice(kinds)
        for i, eid in enumerate(eids):
            user = rng.randrange(spec["users"])
            ts += rng.randrange(1, 2000)
            msg = {"eid": eid, "user_id": user, "ts": ts,
                   "event_type": rng.choice(EVENT_TYPES),
                   "value": round(rng.random() * 100, 2)}
            if eid in batch.undecodable:
                data = _b64("undecodable " + json.dumps(msg)[:-1])
            else:
                if eid in batch.rejected:
                    del msg["user_id"]
                else:
                    batch.usable.append(eid)
                if eid in batch.fail:
                    msg["fail"] = batch.fail[eid]
                data = _b64(json.dumps(msg, separators=(",", ":")))
            batch.shard_of[eid] = shards[i]
            batch.records.append((eid, shards[i], f"pk-{user}", data))
        batches.append(batch)
    return batches


def write_batches(batches, directory):
    import os
    os.makedirs(directory, exist_ok=True)
    for batch in batches:
        with open(os.path.join(directory, f"b{batch.index:05d}.tsv"), "w",
                  encoding="utf-8") as f:
            for rec in batch.records:
                f.write("\t".join(rec) + "\n")


def write_tables(seed, directory, n_events, n_documents):
    """`events.parquet` and `documents.parquet` for (seed), with the
    columns and value ranges of the engine's test tables."""
    import os
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(f"analytics:{seed}")
    os.makedirs(directory, exist_ok=True)
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    offsets = sorted(rng.sample(range(span_us), n_events))
    users = max(1, n_events // 67)
    events = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([start + datetime.timedelta(microseconds=o)
                        for o in offsets], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(users) for _ in range(n_events)],
                            pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.expovariate(1 / 80.0), 2) for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
    })
    pq.write_table(events, os.path.join(directory, "events.parquet"))
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randrange(8, 100)))
             for _ in range(n_documents)]
    documents = pa.table({
        "doc_id": pa.array(range(n_documents), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_documents)],
        "source": [f"src{i % 20}" for i in range(n_documents)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(documents, os.path.join(directory, "documents.parquet"))
