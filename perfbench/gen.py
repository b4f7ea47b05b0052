"""Seeded input generator with planted truth.

Everything the benchmark feeds the program comes from here, from one
``random.Random(seed)``: the same seed gives byte-identical inputs. The
program only ever sees the files these functions write; the returned
truth objects stay on the benchmark side and are what the correctness
checks compare against.

Shapes follow LogHub ``HDFS_v1``: ``yyMMdd HHmmss pid LEVEL component:
message`` lines, one ``blk_<long>`` per line, 29 ``[*]``-wildcard event
templates matched first-match-wins, and a per-block anomaly label.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# (event_id, template, component, level, message format) in first-match
# order. The templates are written for this benchmark in the shape of
# LogHub's HDFS.log_templates.csv (that file is not in the repository):
# mostly a leading ``[*]``, literal text between wildcards.
_TEMPLATE_ROWS = [
    ("E1", "[*]Adding an already existing block[*]", "dfs.FSNamesystem", "INFO",
     "BLOCK* NameSystem.addStoredBlock: Adding an already existing block {blk}"),
    ("E2", "[*]Verification succeeded for[*]", "dfs.DataBlockScanner", "INFO",
     "Verification succeeded for {blk}"),
    ("E3", "[*]Served block[*]to[*]", "dfs.DataNode", "INFO",
     "{ip}:50010 Served block {blk} to /{ip2}"),
    ("E4", "[*]Got exception while serving[*]to[*]", "dfs.DataNode", "WARN",
     "{ip}:50010:Got exception while serving {blk} to /{ip2}:"),
    ("E5", "[*]Receiving block[*]src:[*]dest:[*]", "dfs.DataNode$DataXceiver", "INFO",
     "Receiving block {blk} src: /{ip}:{port} dest: /{ip2}:50010"),
    ("E6", "[*]Received block[*]src:[*]dest:[*]of size[*]", "dfs.DataNode$DataXceiver", "INFO",
     "Received block {blk} src: /{ip}:{port} dest: /{ip2}:50010 of size {size}"),
    ("E7", "[*]writeBlock[*]received exception[*]", "dfs.DataNode$DataXceiver", "WARN",
     "writeBlock {blk} received exception java.io.IOException: Could not read from stream"),
    ("E8", "[*]PacketResponder[*]for block[*]Interrupted[*]", "dfs.DataNode$PacketResponder", "INFO",
     "PacketResponder {n} for block {blk} Interrupted."),
    ("E9", "[*]Received block[*]of size[*]from[*]", "dfs.DataNode", "INFO",
     "Received block {blk} of size {size} from /{ip}"),
    ("E10", "[*]PacketResponder[*]Exception[*]", "dfs.DataNode$PacketResponder", "INFO",
     "PacketResponder {blk} {n} Exception java.io.IOException: Broken pipe"),
    ("E11", "[*]PacketResponder[*]for block[*]terminating[*]", "dfs.DataNode$PacketResponder", "INFO",
     "PacketResponder {n} for block {blk} terminating"),
    ("E12", "[*]:Exception writing block[*]to mirror[*]", "dfs.DataNode$DataXceiver", "INFO",
     "{ip}:50010:Exception writing block {blk} to mirror {ip2}:50010"),
    ("E13", "[*]Receiving empty packet for block[*]", "dfs.DataNode$BlockReceiver", "INFO",
     "Receiving empty packet for block {blk}"),
    ("E14", "[*]Exception in receiveBlock for block[*]", "dfs.DataNode$BlockReceiver", "INFO",
     "Exception in receiveBlock for block {blk} java.io.EOFException"),
    ("E15", "[*]Changing block file offset of block[*]from[*]to[*]meta file offset to[*]",
     "dfs.DataNode$BlockReceiver", "INFO",
     "Changing block file offset of block {blk} from {n} to {size} meta file offset to {port}"),
    ("E16", "[*]:Transmitted block[*]to[*]", "dfs.DataNode$DataTransfer", "INFO",
     "{ip}:50010:Transmitted block {blk} to /{ip2}:50010"),
    ("E17", "[*]:Failed to transfer[*]to[*]got[*]", "dfs.DataNode", "WARN",
     "{ip}:50010:Failed to transfer {blk} to {ip2}:50010 got java.net.SocketException: Connection reset"),
    ("E18", "[*]Starting thread to transfer block[*]to[*]", "dfs.DataNode", "INFO",
     "{ip}:50010 Starting thread to transfer block {blk} to {ip2}:50010"),
    ("E19", "[*]Reopen Block[*]", "dfs.DataNode", "INFO",
     "Reopen Block {blk}"),
    ("E20", "Unexpected error trying to delete block[*]BlockInfo not found in volumeMap[*]",
     "dfs.FSDataset", "WARN",
     "Unexpected error trying to delete block {blk}. BlockInfo not found in volumeMap."),
    ("E21", "[*]Deleting block[*]file[*]", "dfs.FSDataset", "INFO",
     "Deleting block {blk} file /mnt/hadoop/dfs/data/current/subdir{n}/{blk}"),
    ("E22", "[*]BLOCK* NameSystem[*]allocateBlock:[*]", "dfs.FSNamesystem", "INFO",
     "BLOCK* NameSystem.allocateBlock: /user/hadoop/rand/_temporary/_task_{n}/part-{port}. {blk}"),
    ("E23", "[*]BLOCK* NameSystem[*]delete:[*]is added to invalidSet of[*]", "dfs.FSNamesystem", "INFO",
     "BLOCK* NameSystem.delete: {blk} is added to invalidSet of {ip}:50010"),
    ("E24", "[*]BLOCK* Removing block[*]from neededReplications as it does not belong to any file[*]",
     "dfs.FSNamesystem", "INFO",
     "BLOCK* Removing block {blk} from neededReplications as it does not belong to any file."),
    ("E25", "[*]BLOCK* ask[*]to replicate[*]to[*]", "dfs.FSNamesystem", "INFO",
     "BLOCK* ask {ip}:50010 to replicate {blk} to datanode(s) {ip2}:50010"),
    ("E26", "[*]BLOCK* NameSystem[*]addStoredBlock: blockMap updated:[*]is added to[*]size[*]",
     "dfs.FSNamesystem", "INFO",
     "BLOCK* NameSystem.addStoredBlock: blockMap updated: {ip}:50010 is added to {blk} size {size}"),
    ("E27", "[*]BLOCK* NameSystem[*]addStoredBlock: Redundant addStoredBlock request received for[*]on[*]size[*]",
     "dfs.FSNamesystem", "INFO",
     "BLOCK* NameSystem.addStoredBlock: Redundant addStoredBlock request received for {blk} on {ip}:50010 size {size}"),
    ("E28", "[*]BLOCK* NameSystem[*]addStoredBlock: addStoredBlock request received for[*]on[*]size[*]But it does not belong to any file[*]",
     "dfs.FSNamesystem", "WARN",
     "BLOCK* NameSystem.addStoredBlock: addStoredBlock request received for {blk} on {ip}:50010 size {size} But it does not belong to any file."),
    ("E29", "[*]PendingReplicationMonitor timed out block[*]", "dfs.PendingReplicationMonitor", "WARN",
     "PendingReplicationMonitor timed out block {blk}"),
]

TEMPLATES: list[tuple[str, str]] = [(r[0], r[1]) for r in _TEMPLATE_ROWS]
EVENT_IDS: list[str] = [r[0] for r in _TEMPLATE_ROWS]
_ROW = {r[0]: r for r in _TEMPLATE_ROWS}

# Messages no template matches (planted share of unmatched lines).
_UNMATCHED = [
    ("dfs.DataNode", "INFO", "{ip}:50010 heartbeat status unknown for {blk}"),
    ("dfs.FSNamesystem", "INFO", "BLOCK* NameSystem.checkReplication: {blk} has {n} live replicas"),
]

# Event mix of a normal block's lifecycle and the extra events an
# anomalous block carries (the anomaly label is what the LR learns).
_NORMAL_EVENTS = ["E22", "E5", "E11", "E9", "E26", "E21", "E23", "E2", "E3", "E18", "E16", "E25"]
_NORMAL_WEIGHTS = [1, 6, 6, 6, 6, 2, 2, 1, 3, 1, 1, 1]
_ANOMALY_EVENTS = ["E7", "E8", "E10", "E12", "E13", "E14", "E4", "E17", "E15", "E29", "E19",
                   "E20", "E24", "E27", "E28", "E1", "E6"]

UNMATCHED_SHARE = 0.02
ANOMALY_SHARE = 0.03
BASE_TIME = dt.datetime(2008, 11, 9, 20, 0, 0)


def template_regex(template: str) -> str:
    """The program's wildcard compilation (functions.templates), restated
    so the generator can verify first-match truth independently."""
    return re.escape(template).replace(re.escape("[*]"), ".*")


_COMPILED = [(eid, re.compile(template_regex(t))) for eid, t in TEMPLATES]


def first_match(message: str) -> str | None:
    for eid, rx in _COMPILED:
        if rx.search(message):
            return eid
    return None


def _fmt_args(rng: random.Random, blk: str) -> dict:
    def ip() -> str:
        return f"10.251.{rng.randint(0, 255)}.{rng.randint(1, 254)}"

    return {"blk": blk, "ip": ip(), "ip2": ip(), "port": rng.randint(30000, 60000),
            "size": rng.randint(1000, 67108864), "n": rng.randint(0, 2)}


def _line(ts: dt.datetime, pid: int, level: str, comp: str, msg: str) -> str:
    return f"{ts.strftime('%y%m%d %H%M%S')} {pid} {level} {comp}: {msg}"


def write_templates(out_dir: str) -> str:
    """The template table as ``HDFS.log_templates.csv``, in first-match order."""
    path = os.path.join(out_dir, "HDFS.log_templates.csv")
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["EventId", "EventTemplate"])
        w.writerows(TEMPLATES)
    return path


def block_id(rng: random.Random) -> str:
    """``blk_`` and a signed 19-digit number (the serving rows' keys have
    18 digits, so the two key sets never meet)."""
    n = rng.randint(10**18, 9 * 10**18)
    return f"blk_{'-' if rng.random() < 0.5 else ''}{n}"


@dataclass
class Block:
    """One HDFS block's planted lines and the truth derived from them."""

    block_id: str
    anomaly: bool
    lines: list[tuple[dt.datetime, str]] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def start(self) -> dt.datetime:
        return min(t for t, _ in self.lines)

    @property
    def end(self) -> dt.datetime:
        return max(t for t, _ in self.lines)


def make_block(rng: random.Random, blk: str, anomaly: bool, start: dt.datetime,
               n_lines: int | None = None) -> Block:
    """8-30 lines (or ``n_lines``) for one block: a normal lifecycle, plus
    1-4 anomaly events for anomalous blocks, plus planted unmatched lines."""
    n = n_lines or rng.randint(8, 30)
    eids = ["E22"] + rng.choices(_NORMAL_EVENTS, _NORMAL_WEIGHTS, k=n - 1)
    if anomaly:
        for _ in range(rng.randint(1, 4)):
            eids[rng.randrange(1, n)] = rng.choice(_ANOMALY_EVENTS)
    b = Block(blk, anomaly)
    t = start
    for i, eid in enumerate(eids):
        if i and rng.random() < UNMATCHED_SHARE:
            comp, level, fmt = rng.choice(_UNMATCHED)
            eid = None
        else:
            _, _, comp, level, fmt = _ROW[eid]
        msg = fmt.format(**_fmt_args(rng, blk))
        if first_match(msg) != eid:  # generator self-check, not a program check
            raise AssertionError(f"planted {eid} but first match is {first_match(msg)}: {msg}")
        b.lines.append((t, _line(t, rng.randint(1, 40000), level, comp, msg)))
        if eid is not None:
            b.counts[eid] = b.counts.get(eid, 0) + 1
        t += dt.timedelta(seconds=rng.randint(0, 4))
    return b


# --- log_batch -----------------------------------------------------------

@dataclass
class BatchCorpus:
    blocks: dict[str, Block]
    n_lines: int
    text_dir: str
    labels_csv: str
    templates_csv: str


def write_batch_corpus(seed: int, out_dir: str, n_blocks: int, n_files: int = 4) -> BatchCorpus:
    """Raw HDFS_v1-shaped text (time-interleaved across blocks, split into
    ``n_files`` text files), ``anomaly_label.csv`` and the template table
    ``HDFS.log_templates.csv``. ~3 % of blocks, and never fewer than 8,
    are anomalous."""
    rng = random.Random(seed)
    # at least 8 anomalous blocks, so both classes reach the LR's train split
    anomalous = set(rng.sample(range(n_blocks), max(8, round(ANOMALY_SHARE * n_blocks))))
    blocks: dict[str, Block] = {}
    while len(blocks) < n_blocks:
        blk = block_id(rng)
        if blk in blocks:
            continue
        start = BASE_TIME + dt.timedelta(seconds=rng.randint(0, 6 * 3600))
        blocks[blk] = make_block(rng, blk, len(blocks) in anomalous, start)
    lines = sorted((t, s) for b in blocks.values() for t, s in b.lines)
    text_dir = os.path.join(out_dir, "raw")
    os.makedirs(text_dir, exist_ok=True)
    per = -(-len(lines) // n_files)
    for i in range(n_files):
        with open(os.path.join(text_dir, f"HDFS_{i:02d}.log"), "w") as fh:
            fh.writelines(s + "\n" for _, s in lines[i * per:(i + 1) * per])
    labels_csv = os.path.join(out_dir, "anomaly_label.csv")
    with open(labels_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["BlockId", "Label"])
        w.writerows((b.block_id, "Anomaly" if b.anomaly else "Normal") for b in blocks.values())
    return BatchCorpus(blocks, len(lines), text_dir, labels_csv, write_templates(out_dir))


# --- stream_upsert -------------------------------------------------------

# Linear scorer the stream job applies (score_expr weights / bias).
STREAM_WEIGHTS = {e: 1.5 for e in _ANOMALY_EVENTS} | {"E5": -0.05, "E11": -0.05}
STREAM_BIAS = -2.0
STREAM_THRESHOLD = 0.83
# Lines per stream message, cycled, so every file carries the same number
# of lines whatever the seed: a micro-batch's cost is mostly per line.
STREAM_LINES = (8, 13, 18, 23, 28)


@dataclass
class StreamFile:
    path: str
    n_msgs: int
    replayed: list[str]  # keys whose byte-identical replay this file carries
    n_updates: int


@dataclass
class StreamPlan:
    files: list[StreamFile]
    # after each file: key -> (E-counts of its last write, file of that write)
    truth_by_file: list[dict[str, tuple[dict[str, int], int]]]


def _message(b: Block) -> dict:
    return {
        "block_id": b.block_id,
        "start_ts": b.start.strftime("%Y-%m-%d %H:%M:%S"),
        "end_ts": b.end.strftime("%Y-%m-%d %H:%M:%S"),
        "duration_sec": int((b.end - b.start).total_seconds()),
        "log_full": "\n".join(s for _, s in b.lines),
        "num_lines": len(b.lines),
    }


def write_stream_files(seed: int, out_dir: str, n_files: int, msgs_per_file: int,
                       replay_share: float = 0.1, update_share: float = 0.1) -> StreamPlan:
    """JSON-lines session messages, one file per micro-batch.

    File ``f`` holds ``msgs_per_file`` new blocks plus a planted share of
    byte-identical replays of file ``f-1``'s new messages (the job must
    drop them at the source) and a planted share of same-key updates: a
    new payload, with a later event time, for a key first sent in an
    earlier file and not replayed in this one (the last write wins at the
    sink). Event time advances 20 s per file, well inside the job's
    5-minute dedup horizon. Messages have 8-28 lines (``STREAM_LINES``).
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    current: dict[str, tuple[dict[str, int], int]] = {}
    files, truth, prev_msgs = [], [], []
    for f in range(n_files):
        t0 = BASE_TIME + dt.timedelta(seconds=20 * f)
        new_blocks = [make_block(rng, block_id(rng), rng.random() < ANOMALY_SHARE,
                                 t0 + dt.timedelta(seconds=rng.randint(0, 10)),
                                 STREAM_LINES[i % len(STREAM_LINES)])
                      for i in range(msgs_per_file)]
        new_keys = {b.block_id for b in new_blocks}
        fresh = [_message(b) for b in new_blocks]
        msgs = list(fresh)
        replays = rng.sample(prev_msgs, min(len(prev_msgs), max(1, int(replay_share * msgs_per_file))))
        msgs += [dict(m) for m in replays]
        replayed = [m["block_id"] for m in replays]
        older = sorted(set(current) - new_keys - set(replayed))
        updates = rng.sample(older, min(len(older), max(1, int(update_share * msgs_per_file))))
        for key in updates:
            b = make_block(rng, key, rng.random() < 0.5,
                           t0 + dt.timedelta(seconds=rng.randint(0, 10)), STREAM_LINES[2])
            msgs.append(_message(b))
            current[key] = (b.counts, f)
        for b in new_blocks:
            current[b.block_id] = (b.counts, f)
        rng.shuffle(msgs)
        path = os.path.join(out_dir, f"part-{f:05d}.json")
        with open(path, "w") as fh:
            fh.writelines(json.dumps(m) + "\n" for m in msgs)
        files.append(StreamFile(path, len(msgs), replayed, len(updates)))
        truth.append(dict(current))
        prev_msgs = fresh
    return StreamPlan(files, truth)


# --- serving_mix ---------------------------------------------------------

SERVING_SELECTIVITIES = (0.001, 0.01, 0.1)


DETECTION_COLUMNS = ["block_id", *EVENT_IDS, "score", "prediction", "ts_ms"]


@dataclass
class ServingPlan:
    rows: list[dict]  # detections rows, unique keys
    path: str  # the same rows as one parquet file
    queries: list[tuple[str, str, dict]]  # (kind, label, kwargs) in mix order


def make_serving(seed: int, n_rows: int, out_dir: str) -> ServingPlan:
    """Detections rows in the stream job's output schema (block_id,
    E1..E29, score, prediction, ts_ms), written to ``detections.parquet``,
    and the dashboard's query mix with predicates planted at ~0.1 %, ~1 %
    and ~10 % of rows.

    Keys are ``blk_<18 digits>`` with uniform digits, so a prefix of k
    digits after the first selects ~1/(9*10^(k-1)) of rows. Scores are
    ``u**18.5``, which puts ~1 % of rows at or above the job's 0.83
    prediction threshold.
    """
    rng = random.Random(seed)
    keys: set[str] = set()
    rows = []
    t_lo = 1_226_260_800_000  # 2008-11-09 20:00 UTC, in ms
    span = 6 * 3600 * 1000
    while len(rows) < n_rows:
        key = f"blk_{rng.randint(10**17, 10**18 - 1)}"
        if key in keys:
            continue
        keys.add(key)
        score = rng.random() ** 18.5
        row = {"block_id": key}
        row.update({e: rng.choice((0, 0, 0, 1, 2, 3)) for e in EVENT_IDS})
        row.update(score=score, prediction=int(score >= STREAM_THRESHOLD),
                   ts_ms=t_lo + rng.randrange(span))
        rows.append(row)
    schema = pa.schema([("block_id", pa.string())] + [(e, pa.int32()) for e in EVENT_IDS]
                       + [("score", pa.float64()), ("prediction", pa.int32()), ("ts_ms", pa.int64())])
    path = os.path.join(out_dir, "detections.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)

    n = len(rows)
    ts_sorted = sorted(r["ts_ms"] for r in rows)
    sc_sorted = sorted((r["score"] for r in rows), reverse=True)
    first = str(rng.randint(1, 9))
    queries: list[tuple[str, str, dict]] = [("latest", "latest", {"limit": 100})]
    for s in SERVING_SELECTIVITIES:
        # prefix: ~10 % -> 1 digit, ~1 % -> 2 digits, ~0.1 % -> 3 digits
        digits = first + "".join(str(rng.randint(0, 9)) for _ in range({0.1: 0, 0.01: 1, 0.001: 2}[s]))
        prefix = f"blk_{digits}"
        label = f"prefix@{s}"
        queries.append(("prefix", label, {"limit": 100, "prefix": prefix}))
    queries.append(("by_key", "by_key", {"limit": 50, "prediction": 1}))
    for s in SERVING_SELECTIVITIES:
        k = max(1, int(s * n))
        i = rng.randrange(0, n - k)
        lo, hi = ts_sorted[i], ts_sorted[i + k - 1]
        label = f"time_range@{s}"
        queries.append(("time_range", label, {"lo": lo, "hi": hi, "limit": 100}))
    for s in SERVING_SELECTIVITIES:
        thr = sc_sorted[max(0, int(s * n) - 1)]
        label = f"high_score@{s}"
        queries.append(("high_score", label, {"threshold": thr, "limit": 100}))
    queries.append(("stats", "stats", {"high_threshold": STREAM_THRESHOLD}))
    return ServingPlan(rows, path, queries)
