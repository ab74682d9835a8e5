"""Seeded world generator and indexed fake subgraph upstream.

A :class:`World` is a chain plus the subgraph state of the entities in
``entities.yml``, generated from a seed. It answers the engine's GraphQL
documents from indexes instead of refolding an event log per query:

- every entity keeps its live ids sorted, so a keyset page (``id_gt``,
  ``id_lt``, ``first``) is a bisect plus a slice;
- every block keeps the (entity, id) pairs it changed, so a
  ``_change_block`` or ``blockNumber_gt(e)`` filter walks only the blocks
  past its bound;
- a reorg pops the versions the orphaned blocks wrote, so rollback costs
  the orphaned changes, not the history.

The world is also the chain the reorg manager reads (``head_block`` /
``get_block``). :func:`bulk_transport` serves a dumped snapshot to Spark
executor workers for the ``format("subgraph")`` path; each worker process
reads the snapshot file once.

The same seed gives byte-identical inputs; :meth:`World.digest` pins that.
"""

from __future__ import annotations

import bisect
import functools
import hashlib
import itertools
import json
import random
import re
from dataclasses import dataclass
from pathlib import Path

from rootstock_collective_state_sync_spark.streaming.chain import Block

ENTITIES_YML = Path(__file__).with_name("entities.yml")

PROPOSAL, VOTE, CHANGELOG = "Proposal", "VoteCast", "BlockChangeLog"
DATA_ENTITIES = (PROPOSAL, VOTE)

#: columns of each entity in ``entities.yml`` order, with the type the
#: canonical-state digest renders them as ("hex" covers Bytes and FKs)
COLUMNS: dict[str, tuple[tuple[str, str], ...]] = {
    PROPOSAL: (
        ("id", "hex"),
        ("description", "str"),
        ("votesFor", "int"),
        ("votesAgainst", "int"),
        ("state", "str"),
        ("rawState", "int"),
        ("createdAtBlock", "int"),
        ("proposer", "hex"),
    ),
    VOTE: (
        ("id", "hex"),
        ("voter", "hex"),
        ("proposal", "hex"),
        ("support", "int"),
        ("weight", "int"),
        ("reason", "str"),
        ("blockNumber", "int"),
    ),
    CHANGELOG: (
        ("id", "hex"),
        ("blockNumber", "int"),
        ("blockTimestamp", "int"),
        ("updatedEntities", "list"),
    ),
}

_STATES = ("Pending", "Active", "Succeeded", "Defeated", "Executed")
GENESIS_TS = 1_700_000_000
BLOCK_SECONDS = 30  # Rootstock's block time
#: skew of votes and proposal rewrites over proposals (an assumption: no
#: published vote distribution backs it)
ZIPF_S = 1.1


def _hex(seed: int, *parts: object, nbytes: int) -> str:
    h = hashlib.blake2b(
        ":".join(map(str, (seed, *parts))).encode(), digest_size=nbytes
    )
    return "0x" + h.hexdigest()


class World:
    """Generated chain and subgraph state; see the module docstring.
    Every block gets a ``BlockChangeLog`` entry naming the entities of
    ``changelog_names`` it changed; an entity synced append-only is left
    out of it. Votes come from ``n_accounts`` voters and pick proposals
    Zipf-skewed; proposal rewrites are drawn the same way."""

    def __init__(self, seed: int, n_accounts: int = 300, n_proposals: int = 200):
        self.seed = seed
        self._rng = random.Random(seed)
        self._branch = 0
        self._vote_seq = 0
        self.blocks: list[Block] = []  # blocks[i].number == i + 1
        # entity -> id -> [(block, record)], oldest first
        self._versions: dict[str, dict[str, list[tuple[int, dict]]]] = {
            e: {} for e in DATA_ENTITIES
        }
        self._ids: dict[str, list[str]] = {e: [] for e in DATA_ENTITIES}
        self._pending: dict[str, list[str]] = {e: [] for e in DATA_ENTITIES}
        self._changed: dict[int, list[tuple[str, str]]] = {}
        self._log: dict[str, dict] = {}  # changelog id -> entry
        self._log_ids: list[str] = []
        self.changelog_names = set(DATA_ENTITIES)
        self.accounts = [_hex(seed, "acct", i, nbytes=20) for i in range(n_accounts)]
        self.proposals = [_hex(seed, "prop", i, nbytes=32) for i in range(n_proposals)]
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(n_proposals)]
        self._zipf_cum = list(itertools.accumulate(weights))

        changes = {
            PROPOSAL: [
                {
                    "id": p,
                    "description": f"proposal {i}",
                    "votesFor": "0",
                    "votesAgainst": "0",
                    "state": "Pending",
                    "rawState": 0,
                    "createdAtBlock": "1",
                    "proposer": self.accounts[i % n_accounts],
                }
                for i, p in enumerate(self.proposals)
            ]
        }
        self._append_block(changes)

    # ---- chain -------------------------------------------------------------

    @property
    def head(self) -> int:
        return len(self.blocks)

    def head_block(self) -> Block:
        return self.blocks[-1]

    def get_block(self, number: int) -> Block | None:
        return self.blocks[number - 1] if 1 <= number <= self.head else None

    # ---- generation ----------------------------------------------------------

    def _zipf_proposal(self) -> str:
        return self._rng.choices(self.proposals, cum_weights=self._zipf_cum)[0]

    def _vote(self, n: int) -> dict:
        rng = self._rng
        self._vote_seq += 1
        return {
            "id": _hex(self.seed, "vote", self._vote_seq, nbytes=10),
            "voter": rng.choice(self.accounts),
            "proposal": {"id": self._zipf_proposal()},
            "support": rng.randrange(3),
            "weight": str(rng.randrange(10**18, 10**22)),
            "reason": f"r{rng.randrange(97)}",
            "blockNumber": str(n),
        }

    def _proposal_update(self, pid: str) -> dict:
        cur = self.record(PROPOSAL, pid)
        raw = self._rng.randrange(len(_STATES))
        return {
            **cur,
            "votesFor": str(int(cur["votesFor"]) + self._rng.randrange(1, 10**6)),
            "votesAgainst": str(int(cur["votesAgainst"]) + self._rng.randrange(10**5)),
            "state": _STATES[raw],
            "rawState": raw,
        }

    def add_block(self, votes: int, proposal_updates: int) -> Block:
        """Append one block with ``votes`` new VoteCast rows and
        ``proposal_updates`` Zipf-drawn Proposal rewrites."""
        n = self.head + 1
        upd = {self._zipf_proposal() for _ in range(proposal_updates)}
        changes = {
            VOTE: [self._vote(n) for _ in range(votes)],
            PROPOSAL: [self._proposal_update(p) for p in sorted(upd)],
        }
        return self._append_block(changes)

    def _append_block(self, changes: dict[str, list[dict]]) -> Block:
        n = self.head + 1
        parent = self.blocks[-1].hash if self.blocks else ""
        block = Block(
            number=n,
            hash=_hex(self.seed, "block", self._branch, n, nbytes=32),
            timestamp=GENESIS_TS + BLOCK_SECONDS * n,
            parent_hash=parent,
        )
        self.blocks.append(block)
        touched = []
        for entity, recs in changes.items():
            for rec in recs:
                self._put(entity, rec, n)
                touched.append((entity, rec["id"]))
        self._changed[n] = touched
        self._log[block.hash] = {
            "id": block.hash,
            "blockNumber": str(n),
            "blockTimestamp": str(block.timestamp),
            "updatedEntities": sorted({e for e, _ in touched} & self.changelog_names),
        }
        bisect.insort(self._log_ids, block.hash)
        return block

    def _put(self, entity: str, rec: dict, n: int) -> None:
        versions = self._versions[entity].setdefault(rec["id"], [])
        if not versions:
            self._pending[entity].append(rec["id"])
        versions.append((n, rec))

    def reorg(self, depth: int) -> int:
        """Orphan the top ``depth`` blocks; later blocks get a new hash
        lineage. Returns the common ancestor height."""
        ancestor = self.head - depth
        if ancestor < 1:
            raise ValueError(f"reorg depth {depth} reaches genesis")
        for n in range(self.head, ancestor, -1):
            for entity, rid in reversed(self._changed.pop(n)):
                versions = self._versions[entity][rid]
                versions.pop()
                if not versions:
                    del self._versions[entity][rid]
                    ids = self.ids(entity)
                    del ids[bisect.bisect_left(ids, rid)]
            h = self.blocks.pop().hash
            del self._log[h]
            del self._log_ids[bisect.bisect_left(self._log_ids, h)]
        self._branch += 1
        return ancestor

    # ---- index ---------------------------------------------------------------

    def ids(self, entity: str) -> list[str]:
        """Live ids of ``entity``, sorted (The Graph's default order)."""
        if entity == CHANGELOG:
            return self._log_ids
        ids, pending = self._ids[entity], self._pending[entity]
        if len(pending) > 64:
            ids.extend(pending)
            ids.sort()
        else:
            for rid in pending:
                bisect.insort(ids, rid)
        pending.clear()
        return ids

    def record(self, entity: str, rid: str) -> dict:
        if entity == CHANGELOG:
            return self._log[rid]
        return self._versions[entity][rid][-1][1]

    def changed_since(self, entity: str, block: int) -> list[str]:
        """Sorted ids of ``entity`` written at heights >= ``block``."""
        if entity == CHANGELOG:
            return sorted(b.hash for b in self.blocks[max(block, 1) - 1 :])
        ids = {
            rid
            for n in range(max(block, 1), self.head + 1)
            for e, rid in self._changed[n]
            if e == entity
        }
        return sorted(ids)

    # ---- canonical state -------------------------------------------------------

    def rows(self, entity: str) -> list[dict]:
        return [self.record(entity, rid) for rid in self.ids(entity)]

    def count(self, entity: str) -> int:
        return len(self.ids(entity))

    def digest(self) -> str:
        """sha256 over the chain and every entity's state: the
        determinism pin for the generator."""
        h = hashlib.sha256()
        for b in self.blocks:
            h.update(f"{b.number}:{b.hash}:{b.timestamp};".encode())
        for entity in (*DATA_ENTITIES, CHANGELOG):
            for rec in self.rows(entity):
                h.update(json.dumps(rec, sort_keys=True).encode())
        return h.hexdigest()

    # ---- transport ---------------------------------------------------------------

    def transport(self, url: str, body: dict) -> dict:
        """In-process GraphQL transport for ``SubgraphClient``."""
        return answer(self, body["query"])

    def dump(self, directory: Path) -> str:
        """Write the current state for :func:`bulk_transport`; returns
        the url that selects it. Each state gets its own file, because
        a worker keeps the snapshots it has read."""
        path = directory / f"world-{self.seed}-{self._branch}-{self.head}.json"
        state = {
            "head": [self.head, self.head_block().hash, self.head_block().timestamp],
            "entities": {
                e: [[rid, self.record(e, rid)] for rid in self.ids(e)]
                for e in (*DATA_ENTITIES, CHANGELOG)
            },
        }
        path.write_text(json.dumps(state))
        return f"perfbench-state://{path}"


# ---- GraphQL answering (shared by the live world and the snapshot) ----------

_ROOT_RE = re.compile(r"(\w+?)_(\d+): (\w+)(\(([^)]*)\))? \{")
_KEY_RE = re.compile(r"(\w+):")


def _parse_args(argstr: str) -> dict:
    out: dict = {}
    m = re.search(r"first: (\d+)", argstr)
    if m:
        out["first"] = int(m.group(1))
    m = re.search(r"orderBy: (\w+), orderDirection: (\w+)", argstr)
    if m:
        out["order"] = (m.group(1), m.group(2))
    m = re.search(r"where: (\{.*\})", argstr)
    if m:
        out["where"] = json.loads(_KEY_RE.sub(r'"\1":', m.group(1)))
    return out


def _num(v) -> int:
    return int(v) if not isinstance(v, int) else v


def _matches(rec: dict, where: dict) -> bool:
    for key, want in where.items():
        field, _, op = key.rpartition("_")
        if op not in ("gt", "gte", "lt", "lte"):
            raise ValueError(f"unsupported filter {key!r}")
        have = _num(rec[field])
        if not {
            "gt": have > want,
            "gte": have >= want,
            "lt": have < want,
            "lte": have <= want,
        }[op]:
            return False
    return True


def select(source, entity: str, args: dict) -> list[dict]:
    """One root field: filter, keyset-page and order ``entity``'s
    records on ``source`` (an object with ``ids``/``record``/
    ``changed_since``)."""
    where = dict(args.get("where", {}))
    lo, hi = where.pop("id_gt", None), where.pop("id_lt", None)
    cb = where.pop("_change_block", None)
    if cb is not None:
        ids = source.changed_since(entity, int(cb["number_gte"]))
    elif "blockNumber_gt" in where:
        ids = source.changed_since(entity, int(where["blockNumber_gt"]) + 1)
    elif "blockNumber_gte" in where:
        ids = source.changed_since(entity, int(where["blockNumber_gte"]))
    else:
        ids = source.ids(entity)
    i = bisect.bisect_right(ids, lo) if lo is not None else 0
    j = bisect.bisect_left(ids, hi) if hi is not None else len(ids)
    order = args.get("order", ("id", "asc"))
    if order[0] != "id":
        raise ValueError(f"unsupported orderBy {order[0]!r}")
    span = range(j - 1, i - 1, -1) if order[1] == "desc" else range(i, j)
    first = args.get("first")
    out = []
    for k in span:
        rec = source.record(entity, ids[k])
        if _matches(rec, where):
            out.append(rec)
            if first is not None and len(out) >= first:
                break
    return out


def answer(source, doc: str) -> dict:
    data = {}
    for m in _ROOT_RE.finditer(doc):
        entity, idx, _, _, argstr = m.groups()
        data[f"{entity}_{idx}"] = select(source, entity, _parse_args(argstr or ""))
    if "_meta" in doc:
        b = source.head_block()
        data["_meta"] = {"block": {"number": b.number, "hash": b.hash, "timestamp": b.timestamp}}
    return {"data": data}


@dataclass
class Snapshot:
    """A dumped world, read back in an executor worker."""

    head: Block
    entities: dict[str, tuple[list[str], dict[str, dict]]]

    @classmethod
    def load(cls, path: str) -> "Snapshot":
        raw = json.loads(Path(path).read_text())
        n, h, ts = raw["head"]
        ents = {
            e: ([rid for rid, _ in pairs], dict(pairs))
            for e, pairs in raw["entities"].items()
        }
        return cls(head=Block(number=n, hash=h, timestamp=ts), entities=ents)

    def head_block(self) -> Block:
        return self.head

    def ids(self, entity: str) -> list[str]:
        return self.entities[entity][0]

    def record(self, entity: str, rid: str) -> dict:
        return self.entities[entity][1][rid]

    def changed_since(self, entity: str, block: int) -> list[str]:
        raise ValueError("a snapshot serves full hydration only")


@functools.lru_cache(maxsize=4)
def _snapshot(path: str) -> Snapshot:
    return Snapshot.load(path)


def bulk_transport(url: str, body: dict) -> dict:
    """``module:callable`` transport for the DataSource path; the url
    is ``perfbench-state://<snapshot path>`` from :meth:`World.dump`."""
    return answer(_snapshot(url.split("://", 1)[1]), body["query"])
