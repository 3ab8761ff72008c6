"""Seeded Kafka-shaped input generator for the ingest benchmark.

Runs in the benchmark's parent process, never in the measured one: the
measured process only reads the parquet files written here. Every batch
is written as one parquet file per Kafka partition, and the partition
count equals the Spark core count, so each batch reads back as exactly
``cores`` tasks.

Poison is planted at exact counts per kind. ``REASON`` maps each kind to
the ``_dlq_errors`` reason the engine must report for it, and
``expect.json`` records the planted counts plus the data the correctness
model needs.

The traced run also gets side inputs (``side=True``): small ingest
batches, the copy-on-write preload and upsert batches, and the
TPC-H-shaped tables of the query pass.

The Avro encoder below is written against the Avro 1.11 binary spec and
the Confluent wire format (magic 0x00 + 4-byte schema id), independently
of the engine's decoder, so a codec bug in one cannot hide in the other.
"""

from __future__ import annotations

import json
import os
import random
import struct
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "events"
NOT_STRUCT = "record is ignored because it is not struct record"
REQUIRED_NULL = "Not optional field has null value: event_id"
REASON = {
    "invalid_json": NOT_STRUCT,
    "non_struct_json": NOT_STRUCT,
    "missing_required": REQUIRED_NULL,
    "undecodable_avro": NOT_STRUCT,
}

# ingest_bulk: rows per batch, batches per run-second, warm-up batches and
# their rows, poison per batch (1%)
BULK_ROWS = 100_000
BULK_BATCHES_PER_S = 0.5
BULK_WARM_BATCHES = 2
BULK_WARM_ROWS = 50_000
BULK_POISON = {"invalid_json": 340, "non_struct_json": 320, "missing_required": 340}
# cdc_stream: rows per trigger, triggers per run-second, key space, poison
CDC_ROWS = 1_000
CDC_TRIGGERS_PER_S = 0.75
CDC_KEYS = 6_000
CDC_POISON = {"undecodable_avro": 20}
# traced-run side inputs. ingest_bulk: small batches for the per-batch
# fixed cost, and the copy-on-write merge (a key-clustered preload, one
# warm-up and COW_BATCHES timed upsert batches, each updating keys of one
# slice of the key space and inserting new keys). cdc_stream: the query
# tables, once at full size (timed pass) and once at a tenth (warm-up pass)
FIXED_DIVISOR = 10
COW_PRELOAD = 200_000
COW_SLICES = 8
COW_BATCHES = 3
COW_UPDATES = 9_000
COW_INSERTS = 1_000
QUERY_ROWS = 60_000  # lineitem rows of the timed pass; the other tables scale with it

COUNTRIES = ("DE", "FR", "US", "JP", "BR", "IN", "NG", "SE")
STATUSES = ("new", "paid", "shipped", "void")
TAGS = ("red", "green", "blue", "mobile", "web", "promo")
REGIONS = ("eu", "us", "apac", None)

ENVELOPE_JSON = pa.schema(
    [("topic", pa.string()), ("partition", pa.int32()), ("offset", pa.int64()), ("key", pa.string()), ("value", pa.string())]
)
ENVELOPE_AVRO = pa.schema(
    [("topic", pa.string()), ("partition", pa.int32()), ("offset", pa.int64()), ("key", pa.string()), ("value", pa.binary())]
)

AVRO_SCHEMA = {
    "type": "record",
    "name": "Account",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "seq", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "balance", "type": "double"},
        {"name": "region", "type": ["null", "string"]},
        {"name": "updated_at", "type": "long"},
    ],
}


def batch_count(workload: str, seconds: int) -> int:
    per_s = BULK_BATCHES_PER_S if workload == "ingest_bulk" else CDC_TRIGGERS_PER_S
    return max(2, round(seconds * per_s))


# -- Kafka-shaped parquet ------------------------------------------------------
class _Topic:
    """Per-partition offset counters, shared by every batch of one topic."""

    def __init__(self, parts: int) -> None:
        self.parts = parts
        self.next_offset = [0] * parts

    def write(self, rows: list[tuple], out_dir: str, schema: pa.Schema, prefix: str = "part") -> dict[str, list]:
        """Write (key, value, model row) triples as one parquet file per
        partition; returns file name -> the model rows that file holds."""
        os.makedirs(out_dir, exist_ok=True)
        by_part: list[list[tuple]] = [[] for _ in range(self.parts)]
        for row in rows:
            by_part[zlib.crc32(row[0].encode()) % self.parts].append(row)
        files = {}
        for p, prow in enumerate(by_part):
            start = self.next_offset[p]
            self.next_offset[p] += len(prow)
            table = pa.table(
                [
                    pa.array([TOPIC] * len(prow), pa.string()),
                    pa.array([p] * len(prow), pa.int32()),
                    pa.array(range(start, start + len(prow)), pa.int64()),
                    pa.array([r[0] for r in prow], pa.string()),
                    pa.array([r[1] for r in prow], schema.field("value").type),
                ],
                schema=schema,
            )
            name = f"{prefix}-{p:03d}.parquet"
            pq.write_table(table, os.path.join(out_dir, name))
            files[name] = [r[2] for r in prow if r[2] is not None]
        return files


# -- ingest_bulk: JSON envelope ------------------------------------------------
def _event_json(rng: random.Random, eid: int) -> str:
    # one 64-bit draw feeds every field (generation speed)
    r = rng.getrandbits(64)
    uid, r = r % 100_000, r // 100_000
    country, r = COUNTRIES[r % len(COUNTRIES)], r // len(COUNTRIES)
    cents, r = 1 + r % 999_999, r // 999_999
    status, r = STATUSES[r % len(STATUSES)], r // len(STATUSES)
    tag_a, tag_b = TAGS[r % len(TAGS)], TAGS[r // len(TAGS) % len(TAGS)]
    return (
        f'{{"event_id":{eid},"ts":{1_700_000_000_000 + eid * 7},'
        f'"user":{{"id":{uid},"name":"user-{uid}","country":"{country}"}},'
        f'"amount":{cents / 100:.2f},"status":"{status}","tags":["{tag_a}","{tag_b}"]}}'
    )


def _poison_json(kind: str, rng: random.Random, eid: int) -> str:
    good = _event_json(rng, eid)
    if kind == "invalid_json":
        return good[: rng.randrange(5, len(good) - 1)]
    if kind == "non_struct_json":
        return rng.choice(("42", '"text"', "[1,2,3]", "true", "null", f'[{good}]'))
    if kind == "missing_required":
        return good.replace(f'"event_id":{eid},', "", 1)
    raise ValueError(kind)


def gen_bulk_batch(rng: random.Random, first_id: int, n: int, poison: dict[str, int]) -> tuple[list, list[int], dict]:
    """(rows, valid event ids, planted counts) for one batch."""
    slots = rng.sample(range(n), sum(poison.values()))
    kind_at: dict[int, str] = {}
    for kind, count in poison.items():
        for _ in range(count):
            kind_at[slots.pop()] = kind
    rows, valid = [], []
    for i in range(n):
        eid = first_id + i
        kind = kind_at.get(i)
        if kind is None:
            rows.append((str(eid), _event_json(rng, eid), None))
            valid.append(eid)
        else:
            rows.append((str(eid), _poison_json(kind, rng, eid), None))
    return rows, valid, dict(poison)


def gen_ingest_bulk(root: str, seed: int, seconds: int, cores: int, side: bool) -> dict:
    rng = random.Random(seed)
    topic = _Topic(cores)
    # warm-up input: small batches with all kinds of poison, in an id range
    # of their own
    warm_poison = {k: v * BULK_WARM_ROWS // BULK_ROWS for k, v in BULK_POISON.items()}
    for b in range(BULK_WARM_BATCHES):
        warm_rows, _, _ = gen_bulk_batch(rng, 10**12 + b * BULK_ROWS, BULK_WARM_ROWS, warm_poison)
        topic.write(warm_rows, os.path.join(root, "warm", f"b{b:04d}"), ENVELOPE_JSON)
    batches, planted = [], {k: 0 for k in BULK_POISON}
    valid_ids: list[int] = []
    next_id = 0
    for b in range(batch_count("ingest_bulk", seconds)):
        rows, valid, counts = gen_bulk_batch(rng, next_id, BULK_ROWS, BULK_POISON)
        next_id += BULK_ROWS
        out = os.path.join(root, "batches", f"b{b:04d}")
        topic.write(rows, out, ENVELOPE_JSON)
        batches.append({"dir": out, "rows": len(rows)})
        valid_ids.extend(valid)
        for k, c in counts.items():
            planted[k] += c
    with open(os.path.join(root, "valid_ids.json"), "w") as fh:
        json.dump(valid_ids, fh)
    spec = {"batches": batches, "planted": planted, "input_rows": next_id}
    if side:
        # three batches of a tenth of the size, with a tenth of the poison,
        # in an id range of their own
        small, poison = [], {k: v // FIXED_DIVISOR for k, v in BULK_POISON.items()}
        for b in range(3):
            rows, _, _ = gen_bulk_batch(rng, 2 * 10**12 + b * BULK_ROWS, BULK_ROWS // FIXED_DIVISOR, poison)
            out = os.path.join(root, "small", f"b{b:04d}")
            topic.write(rows, out, ENVELOPE_JSON)
            small.append({"dir": out, "rows": len(rows)})
        spec["small_batches"] = small
        spec["cow"] = gen_cow(os.path.join(root, "cow"), rng, cores)
    return spec


# -- cdc_stream: Confluent-framed Avro change events -----------------------------
def _zigzag(out: bytearray, v: int) -> None:
    v = (v << 1) ^ (v >> 63)
    while v & ~0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _avro_string(out: bytearray, s: str) -> None:
    b = s.encode()
    _zigzag(out, len(b))
    out.extend(b)


def avro_account(rec: dict) -> bytes:
    """Confluent frame + Avro body of one ``AVRO_SCHEMA`` record."""
    out = bytearray(b"\x00" + struct.pack(">I", 7))
    _zigzag(out, rec["id"])
    _zigzag(out, rec["seq"])
    _avro_string(out, rec["name"])
    out.extend(struct.pack("<d", rec["balance"]))
    if rec["region"] is None:
        _zigzag(out, 0)
    else:
        _zigzag(out, 1)
        _avro_string(out, rec["region"])
    _zigzag(out, rec["updated_at"])
    return bytes(out)


def gen_cdc_trigger(rng: random.Random, first_seq: int, n: int, n_bad: int) -> list[tuple]:
    """(key, value, model row) triples; the model row of a valid record is
    [id, seq, name, balance, region, updated_at], of a poisoned one None."""
    bad = set(rng.sample(range(n), n_bad))
    rows = []
    for i in range(n):
        seq = first_seq + i
        rec = {
            "id": rng.randrange(CDC_KEYS),
            "seq": seq,
            "name": f"acct-{rng.randrange(10**6)}",
            "balance": rng.randrange(-10**7, 10**7) / 100,
            "region": rng.choice(REGIONS),
            "updated_at": 1_700_000_000_000 + seq,
        }
        body = avro_account(rec)
        model = [rec["id"], seq, rec["name"], rec["balance"], rec["region"], rec["updated_at"]]
        if i in bad:
            # strict prefix of a valid body: the decoder must run out of bytes
            body, model = body[: rng.randrange(5, len(body) - 1)], None
        rows.append((str(rec["id"]), body, model))
    return rows


def gen_cdc_stream(root: str, seed: int, seconds: int, cores: int, side: bool) -> dict:
    rng = random.Random(seed)
    topic = _Topic(cores)
    src = os.path.join(root, "stream")
    # the files of one trigger share a prefix; the model maps files to
    # micro-batches through the checkpoint's source log, not these names
    model: dict[str, list] = {}
    warm_src = os.path.join(root, "warm", "stream")
    # two warm-up triggers: the first seeds the table, the second runs the
    # MOR merge path (tombstones), so neither is cold in the timed phase
    for t in range(2):
        rows = gen_cdc_trigger(rng, 10**12 + t * CDC_ROWS, CDC_ROWS // 4, 2)
        topic.write(rows, warm_src, ENVELOPE_AVRO, prefix=f"w{t:04d}")
    planted = 0
    for t in range(batch_count("cdc_stream", seconds)):
        rows = gen_cdc_trigger(rng, t * CDC_ROWS, CDC_ROWS, CDC_POISON["undecodable_avro"])
        planted += CDC_POISON["undecodable_avro"]
        model.update(topic.write(rows, src, ENVELOPE_AVRO, prefix=f"t{t:04d}"))
    with open(os.path.join(root, "model.json"), "w") as fh:
        json.dump(model, fh)
    spec = {
        "stream_dir": src,
        "warm_dir": warm_src,
        "triggers": batch_count("cdc_stream", seconds),
        "planted": {"undecodable_avro": planted},
        "input_rows": batch_count("cdc_stream", seconds) * CDC_ROWS,
    }
    if side:
        spec["tables"] = {
            "warm": gen_tables(os.path.join(root, "tables", "warm"), rng, QUERY_ROWS // 10),
            "timed": gen_tables(os.path.join(root, "tables", "timed"), rng, QUERY_ROWS),
        }
    return spec


# -- merge_cow side input: JSON upserts onto a key-clustered preload -------------
def _account_json(rec: dict) -> str:
    return json.dumps(rec, separators=(",", ":"))


def gen_cow(root: str, rng: random.Random, cores: int) -> dict:
    """Preload rows (a plain parquet file of model rows) plus warm-up and
    timed upsert batches in the JSON envelope. Later batches win; within
    a batch the higher ``seq`` wins."""
    os.makedirs(root, exist_ok=True)
    cols = [f["name"] for f in AVRO_SCHEMA["fields"]]

    def account(key: int, seq: int) -> dict:
        return {
            "id": key,
            "seq": seq,
            "name": f"acct-{rng.randrange(10**6)}",
            "balance": rng.randrange(-10**7, 10**7) / 100,
            "region": rng.choice(REGIONS),
            "updated_at": 1_700_000_000_000 + seq,
        }

    preload = [account(k, k) for k in range(COW_PRELOAD)]
    pq.write_table(pa.Table.from_pylist(preload), os.path.join(root, "preload.parquet"))
    topic = _Topic(cores)
    width = COW_PRELOAD // COW_SLICES
    slices = rng.sample(range(COW_SLICES), COW_BATCHES + 1)
    seq = 10**9
    batches = []
    for b, s in enumerate(slices):
        recs = []
        for _ in range(COW_UPDATES):
            recs.append(account(s * width + rng.randrange(width), seq))
            seq += 1
        for i in range(COW_INSERTS):
            recs.append(account(COW_PRELOAD + b * COW_INSERTS + i, seq))
            seq += 1
        rng.shuffle(recs)
        out = os.path.join(root, f"b{b:04d}")
        topic.write([(str(r["id"]), _account_json(r), None) for r in recs], out, ENVELOPE_JSON)
        changed = len({r["id"] for r in recs})
        batches.append({"dir": out, "rows": len(recs), "changed_keys": changed, "slice": s,
                        "model": [[r[c] for c in cols] for r in recs]})
    # batch 0 is the warm-up; the rest are timed
    return {"preload": os.path.join(root, "preload.parquet"), "columns": cols, "warm": batches[0], "batches": batches[1:]}


# -- query side input: TPC-H-shaped tables plus events and documents -------------
WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector line table data "
    "agg value key stream window a spark part group big sort query fast the"
).split()
REGION_NAMES = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _day(rng: random.Random, first_year: int, last_year: int):
    from datetime import datetime, timedelta

    start = datetime(first_year, 1, 1)
    return start + timedelta(days=rng.randrange((datetime(last_year + 1, 1, 1) - start).days))


def gen_tables(root: str, rng: random.Random, n_lineitem: int) -> str:
    """One parquet file per table, named as ``load_table`` reads them."""
    from datetime import datetime, timedelta

    os.makedirs(root, exist_ok=True)
    n_orders, n_cust, n_supp, n_part = n_lineitem // 4, n_lineitem // 40, max(10, n_lineitem // 600), n_lineitem // 30
    n_events, n_docs = n_lineitem // 6, max(100, n_lineitem // 120)
    money = lambda lo, hi: rng.randrange(lo * 100, hi * 100) / 100  # noqa: E731
    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGION_NAMES)},
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
            "c_acctbal": [money(-999, 9999) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
            "s_acctbal": [money(-999, 9999) for _ in range(n_supp)],
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{rng.choice(TAGS)} {rng.choice(('ring', 'widget', 'bolt', 'gear'))}" for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
            "p_type": [rng.choice(("ECONOMY", "SMALL", "LARGE", "STANDARD")) for _ in range(n_part)],
            "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], pa.int32()),
            "p_retailprice": [900 + (i % 1000) / 10 for i in range(n_part)],
        },
        "orders": {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
            "o_totalprice": [money(1000, 500_000) for _ in range(n_orders)],
            "o_orderdate": pa.array([_day(rng, 1995, 1999) for _ in range(n_orders)], pa.timestamp("us")),
            "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_orders)],
        },
        "lineitem": {
            "l_orderkey": pa.array([rng.randrange(n_orders) for _ in range(n_lineitem)], pa.int64()),
            "l_partkey": pa.array([rng.randrange(n_part) for _ in range(n_lineitem)], pa.int64()),
            "l_suppkey": pa.array([rng.randrange(n_supp) for _ in range(n_lineitem)], pa.int64()),
            "l_linenumber": pa.array([rng.randrange(1, 8) for _ in range(n_lineitem)], pa.int32()),
            "l_quantity": [float(rng.randrange(1, 51)) for _ in range(n_lineitem)],
            "l_extendedprice": [money(900, 100_000) for _ in range(n_lineitem)],
            "l_discount": [rng.randrange(11) / 100 for _ in range(n_lineitem)],
            "l_tax": [rng.randrange(9) / 100 for _ in range(n_lineitem)],
            "l_returnflag": [rng.choice("ANR") for _ in range(n_lineitem)],
            "l_linestatus": [rng.choice("FO") for _ in range(n_lineitem)],
            "l_shipdate": pa.array([_day(rng, 1995, 2001) for _ in range(n_lineitem)], pa.timestamp("us")),
        },
    }
    t, ts = datetime(2024, 1, 1), []
    for _ in range(n_events):
        t += timedelta(microseconds=rng.randrange(240_000_000))
        ts.append(t)
    tables["events"] = {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(150) for _ in range(n_events)], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [money(0, 50) for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
    }
    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < 0.05:
            texts.append(rng.choice(texts) + " dup")  # planted near-duplicate
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randrange(8, 90))))
    tables["documents"] = {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(("en", "en", "en", "de", "fr", "es", "zh")) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))
    return root


GENERATORS = {"ingest_bulk": gen_ingest_bulk, "cdc_stream": gen_cdc_stream}


def generate(workload: str, root: str, seed: int, seconds: int, cores: int, side: bool = False) -> dict:
    """Write the inputs of one run; ``side`` adds the traced run's side inputs."""
    spec = GENERATORS[workload](root, seed, seconds, cores, side)
    spec.update(workload=workload, seed=seed, cores=cores, reasons={k: REASON[k] for k in spec["planted"]})
    with open(os.path.join(root, "expect.json"), "w") as fh:
        json.dump(spec, fh)
    return spec


