"""Seeded inputs for the benchmark workloads.

Every function here is a pure function of its shape and seed: the same
seed gives byte-identical files (tar and gzip headers carry mtime 0,
backlog files get a fixed mtime order). Nothing here touches Spark.

Ingest inputs model what the program sees in production: an SQS backlog
(one JSON-lines file per epoch, V2 envelopes inside SNS notifications
inside SQS records), one real ``.tar.gz`` per consignment (TRE metadata,
the named XML, a docx, images, and a ``parser.log`` on most), the
identifier index the URI cascade resolves against, and — for workloads
with updates — the documents that already exist. Each message also gets
its closed-form expected sink outcome, which the benchmark checks the
sink tables against.

Curate inputs are a documents/embeddings pair with planted near-duplicate
families (a base document plus copies that differ by one appended token,
the shape ``tools/gen_scale.py`` plants), whose membership the check
knows.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import math
import os
import random
import tarfile
from dataclasses import dataclass, field

MTIME0 = 1_700_000_000
INVALID_EVERY = 11  # ~1/11 of each epoch has an empty reference -> quarantine
ORIGINATORS = ("TDR", "FCL S3", "FCL")
_REF_PREFIX = {"TDR": "TDR", "FCL S3": "BULK", "FCL": "FCL"}
JUDGMENT_NS = "http://docs.oasis-open.org/legaldocml/ns/akn/3.0"


def md5_hex(b: bytes) -> str:
    return hashlib.md5(b).hexdigest()


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(3, 9))) for _ in range(n)]


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IngestShape:
    msgs_per_epoch: int
    epochs: int  # backlog files, one per epoch
    update_share: float  # share of each epoch resolving by NCN to a seeded document
    seeded_docs: int  # documents present before the first epoch (0 = empty sinks)


@dataclass
class Message:
    message_id: str
    epoch: int
    ref: str  # consignment reference; '' for an invalid message
    originator: str
    update: bool = False
    uri: str = ""  # the uri the program must resolve the message to
    doc_type: str = "judgment"
    ncn: "str | None" = None
    filename: "str | None" = None
    images: tuple = ()
    has_log: bool = True
    auto_publish: bool = False
    tdr: bool = False
    was_published: bool = False

    @property
    def valid(self) -> bool:
        return self.ref != ""

    @property
    def published(self) -> bool:
        """Routing rule C1: TDR never; FCL S3 follows auto_publish; FCL
        (a reparse) only when the document exists and was published."""
        if self.originator == "TDR":
            return False
        if self.originator == "FCL S3":
            return self.auto_publish
        return self.update and self.was_published

    def expected(self, members: "dict[str, bytes]", archive: bytes) -> dict:
        """Closed-form sink outcome of this (valid) message."""
        assets = [("tar", md5_hex(archive))]
        if self.filename:
            assets.append(("source_doc", md5_hex(members[self.filename])))
        if self.has_log:
            assets.append(("parser_log", md5_hex(members["parser.log"])))
        assets += [("image", md5_hex(members[i])) for i in self.images]
        return {
            "uri": self.uri,
            "doc_type": self.doc_type,
            "is_published": self.published,
            "versions": 1,
            "identifiers": 1 if self.ncn else 0,
            # five TDR properties when the TDR section is present, plus
            # parser-run-id, which every consignment carries
            "properties": (5 if self.tdr else 0) + 1,
            "notification": (
                ("email_updated" if self.update else "email_new")
                if self.originator == "TDR"
                else None
            ),
            "assets": sorted(assets),
            "asset_copies": len(assets) if self.published else 0,
        }


@dataclass
class IngestInputs:
    shape: IngestShape
    seed: int
    epochs: "list[list[Message]]"
    archives: "dict[str, bytes]"  # ref -> tar.gz bytes
    members: "dict[str, dict[str, bytes]]"  # ref -> member basename -> bytes
    seeded: "list[tuple[str, str, str, bool]]"  # (uri, xml, doc_type, is_published)
    identifiers: "list[tuple]"  # (slug, value, namespace, uri)
    expected: "dict[str, dict]" = field(default_factory=dict)  # message_id -> outcome

    def messages(self, epochs) -> "list[Message]":
        return [m for e in epochs for m in self.epochs[e]]


def _xml(rng: random.Random, vocab: list[str], doc_type: str, title: str) -> str:
    words = " ".join(rng.choice(vocab) for _ in range(rng.randint(40, 90)))
    if doc_type == "pressSummary":
        return f'<doc name="pressSummary"><p>{title}</p><p>{words}</p></doc>'
    return f'<judgment xmlns="{JUDGMENT_NS}"><header>{title}</header><body>{words}</body></judgment>'


def _tar_gz(files: "list[tuple[str, bytes]]") -> bytes:
    raw = io.BytesIO()
    with tarfile.open(fileobj=raw, mode="w", format=tarfile.PAX_FORMAT) as tf:
        for name, data in files:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return gzip.compress(raw.getvalue(), mtime=0)


def _roles(shape: IngestShape) -> "list[str]":
    n = shape.msgs_per_epoch
    n_invalid = n // INVALID_EVERY
    n_update = min(math.ceil(shape.update_share * n), n - n_invalid)
    return ["invalid"] * n_invalid + ["update"] * n_update + ["insert"] * (n - n_invalid - n_update)


def make_ingest(shape: IngestShape, seed: int) -> IngestInputs:
    """Every epoch has the same composition (roles, originators, images,
    logs, published documents), so epochs cost alike; the seed decides
    the order, the bytes, and which seeded documents get updated."""
    rng = random.Random(seed)
    tag = f"{seed % 65536:04x}"
    vocab = _vocab(rng, 2000)
    if _roles(shape).count("update") * shape.epochs > shape.seeded_docs // 2:
        raise ValueError("every update needs its own seeded document, from either half")

    seeded, identifiers = [], []
    for n in range(shape.seeded_docs):
        uri = f"ewhc/kb/2023/{n + 1}"
        ncn = f"[2023] EWHC {n + 1} (KB)"
        seeded.append((uri, _xml(rng, vocab, "judgment", ncn), "judgment", n % 2 == 0))
        identifiers.append((uri, ncn, "ukncn", uri))
    # distinct targets, so each seeded document is updated at most once a
    # run; drawn from the published or the unpublished half by position,
    # so every epoch publishes the same number of documents
    halves = [rng.sample(range(h, shape.seeded_docs, 2), shape.seeded_docs // 2) for h in (0, 1)]

    inputs = IngestInputs(shape, seed, [], {}, {}, seeded, identifiers)
    i = 0
    for e in range(shape.epochs):
        counters = {"update": 0, "insert": 0}
        batch = []
        for role in _roles(shape):
            mid = f"m-{tag}-{i:06d}"
            i += 1
            if role == "invalid":
                batch.append(Message(mid, e, "", rng.choice(ORIGINATORS)))
                continue
            k = counters[role]
            counters[role] += 1
            orig = ORIGINATORS[k % 3]
            ref = f"{_REF_PREFIX[orig]}-{tag}-{i:06d}"
            m = Message(mid, e, ref, orig, update=role == "update")
            if m.update:
                t = halves[(k // 3) % 2].pop()
                m.uri, m.ncn, m.was_published = seeded[t][0], identifiers[t][1], seeded[t][3]
            else:
                m.uri = "d-" + md5_hex(mid.encode())
                m.doc_type = "pressSummary" if k % 4 == 3 else "judgment"
                m.ncn = None if k % 5 == 4 else f"[2024] EWCA Civ {tag}{i:06d}"
            m.tdr = orig == "TDR"
            m.auto_publish = orig == "FCL S3" and (k // 3) % 2 == 0
            m.filename = None if orig == "FCL" else "judgment.docx"  # FCL = reparse
            # fixed per position, so every epoch writes the same asset rows
            m.images = tuple(f"image{j}.png" for j in range((0, 0, 1, 2)[k % 4]))
            m.has_log = k % 7 != 6
            inputs.members[ref], inputs.archives[ref] = _consignment(rng, vocab, m)
            inputs.expected[mid] = m.expected(inputs.members[ref], inputs.archives[ref])
            batch.append(m)
        rng.shuffle(batch)
        inputs.epochs.append(batch)
    return inputs


def _metadata(m: Message) -> dict:
    params: dict = {
        "TRE": {
            "reference": m.ref,
            "payload": {
                "filename": m.filename,
                "xml": f"{m.ref}.xml",
                "images": list(m.images),
                "log": "parser.log",
            },
        },
        "PARSER": {
            "uri": None,
            "cite": m.ncn,
            "name": f"Case {m.ref}",
            "documentType": m.doc_type,
            "parser_run_id": f"run-{m.ref}",
        },
        "INGESTER_OPTIONS": {"auto_publish": m.auto_publish, "error_on_existing_document": False},
    }
    if m.tdr:
        params["TDR"] = {
            "Consignment-Type": "judgment",
            "Source-Organization": "Ministry of Justice",
            "Contact-Name": "Clerk",
            "Contact-Email": "clerk@example.org",
            "Internal-Sender-Identifier": m.ref,
            "Consignment-Completed-Datetime": "2024-01-01T00:00:00Z",
        }
    return {"parameters": params}


def _consignment(rng: random.Random, vocab: list[str], m: Message):
    members = {
        f"TRE-{m.ref}-metadata.json": json.dumps(_metadata(m), sort_keys=True).encode(),
        f"{m.ref}.xml": _xml(rng, vocab, m.doc_type, m.ncn or m.ref).encode(),
    }
    if m.filename:
        members[m.filename] = rng.randbytes(rng.randint(2000, 6000))
    for img in m.images:
        members[img] = rng.randbytes(rng.randint(1000, 3000))
    if m.has_log:
        members["parser.log"] = f"parsed {m.ref} <ok> & done".encode()
    archive = _tar_gz([(f"{m.ref}/{name}", data) for name, data in members.items()])
    return members, archive


def sqs_record(m: Message) -> dict:
    payload = {
        "properties": {
            "messageType": "uk.gov.nationalarchives.da.messages.bag.available.BagAvailable",
            "function": "tre-parse",
            "producer": "TRE",
        },
        "parameters": {
            "status": "JUDGMENT_PARSE_NO_ERRORS",
            "reference": m.ref,
            "originator": m.originator,
            "s3Bucket": "tre-packed-judgments",
            "s3Key": f"{m.ref}/{m.ref}.tar.gz",
        },
    }
    body = {"Type": "Notification", "MessageId": m.message_id, "Message": json.dumps(payload)}
    return {"messageId": m.message_id, "eventSource": "aws:sqs", "body": json.dumps(body)}


def write_backlog(inputs: IngestInputs, out_dir: str) -> "list[str]":
    """One JSON-lines SQS file per epoch, mtimes in epoch order (the file
    source orders by mtime). Returns the file paths in epoch order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for e, batch in enumerate(inputs.epochs):
        p = os.path.join(out_dir, f"epoch-{e:05d}.json")
        with open(p, "w") as f:
            for m in batch:
                f.write(json.dumps(sqs_record(m)) + "\n")
        os.utime(p, (MTIME0 + 10 * e, MTIME0 + 10 * e))
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CurateShape:
    n_docs: int
    n_families: int
    family_size: int
    dim: int = 64


@dataclass
class CurateInputs:
    doc_ids: "list[int]"
    texts: "list[str]"
    embeddings: "list[list[float]]"
    families: "list[list[int]]"  # planted near-duplicate families (doc ids)


def make_curate(shape: CurateShape, seed: int) -> CurateInputs:
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    ids = rng.sample(range(1, 20 * shape.n_docs), shape.n_docs)
    texts: list[str] = []
    vecs: list[list[float]] = []
    families: list[list[int]] = []

    def unit() -> list[float]:
        v = [rng.gauss(0.0, 1.0) for _ in range(shape.dim)]
        s = math.sqrt(sum(x * x for x in v))
        return [x / s for x in v]

    for _ in range(shape.n_families):
        base = " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 160)))
        v = unit()
        families.append(ids[len(texts) : len(texts) + shape.family_size])
        for k in range(shape.family_size):
            texts.append(base if k == 0 else f"{base} dup{k}")
            vecs.append([x + k * 1e-3 for x in v])
    while len(texts) < shape.n_docs:
        texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(60, 160))))
        vecs.append(unit())
    return CurateInputs(ids, texts, vecs, families)


def write_curate(inputs: CurateInputs, out_dir: str) -> None:
    """documents.parquet (doc_id, text) and embeddings.parquet (doc_id,
    embedding float[dim]) in the catalog's `<dir>/<table>.parquet` layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    ids = pa.array(inputs.doc_ids, pa.int64())
    pq.write_table(
        pa.table({"doc_id": ids, "text": pa.array(inputs.texts, pa.string())}),
        os.path.join(out_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.table({"doc_id": ids, "embedding": pa.array(inputs.embeddings, pa.list_(pa.float32()))}),
        os.path.join(out_dir, "embeddings.parquet"),
    )
