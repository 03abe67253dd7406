"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of (seed, size): the same pair always
yields byte-identical rows. Inputs are written once per (workload, size,
seed) under the benchmark's work directory and reused by later runs with
the same seed; ``meta.json`` beside them records row counts and bytes.

- ``kg``: a view graph in the shape the nine production CONSTRUCT queries
  emit (``urn:kg-to-postgres:`` column predicates plus a ``tableName``
  per subject), and an entity-complete since-window delta over it.
- ``corpus``: documents with injected exact and near duplicates for
  the ingest flow.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NS = "urn:kg-to-postgres:"
ENT = "https://data.hetarchief.be/id/entity/"
ORG = "https://data.hetarchief.be/id/organization/OR-"
THING = "https://data.hetarchief.be/id/thing/"
COLL = "https://data.hetarchief.be/id/collection/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

WORDS = (
    "archief film krant beeld geluid opname reportage interview concert "
    "journaal portret stad haven rivier oorlog feest markt school kerk "
    "fabriek spoor dorp kust theater museum"
).split()


@dataclass(frozen=True)
class KgSize:
    tops: int  # top-level intellectual entities
    orgs: int
    things: int
    collections: int
    changed: float = 0.10  # share of tops re-emitted with new values
    new: float = 0.01  # share of tops added by the delta
    new_deleted: float = 0.005  # share of tops flagged deleted by the delta
    deleted: float = 0.01  # share of tops flagged deleted at base


@dataclass(frozen=True)
class CorpusSize:
    docs: int  # originals; exact and near copies come on top
    exact_share: float = 0.10
    near_share: float = 0.05


# "bench" is what the benchmark measures; "smoke" keeps every code path
# live at a size the benchmark's own tests can afford.
SIZES = {
    "bench": {
        "kg": KgSize(tops=240, orgs=8, things=60, collections=10),
        "corpus": CorpusSize(docs=300),
    },
    "smoke": {
        "kg": KgSize(tops=120, orgs=4, things=30, collections=6),
        "corpus": CorpusSize(docs=150),
    },
}


def _rng(seed: int, *key) -> random.Random:
    return random.Random(":".join(str(k) for k in (seed, *key)))


# --------------------------------------------------------------------- kg


def _record(out: list, subject: str, table: str, cols: dict) -> None:
    out.append((subject, NS + "tableName", "graph." + table))
    for c, v in cols.items():
        if v is not None:
            out.append((subject, NS + c, str(v)))


def _phrase(r: random.Random, n: int) -> str:
    return " ".join(r.choice(WORDS) for _ in range(n))


def _entity(
    seed: int, size: KgSize, e: int, version: int, deleted: set[str]
) -> list[tuple[str, str, str]]:
    """Every triple of top-level entity ``e`` and its children.

    The record STRUCTURE (subjects, record counts) depends only on
    (seed, e), so a re-emission at another ``version`` replaces exactly
    the same subjects with new values -- an entity-complete delta, as a
    since-window CONSTRUCT re-emits a changed entity whole. ``deleted``
    names the entity IRIs whose MAM fragment is flagged deleted."""
    r = _rng(seed, "ent", e)
    v = _rng(seed, "val", e, version)
    out: list[tuple[str, str, str]] = []
    iri = f"{ENT}{e:07d}"
    org = r.randrange(size.orgs)
    fmt = r.choice(["newspaper", "newspaper", "image", "video", "film", "audio", "set"])
    out.append((iri, RDF_TYPE, "https://data.hetarchief.be/ns/description/IntellectualEntity"))
    _record(out, iri, "intellectual_entity", {
        "schema_identifier": f"id{e:07d}",
        "schema_maintainer": f"{ORG}{org}",
        "schema_name": f"{_phrase(v, 3)} {e}" + (f" v{version}" if version else ""),
        "schema_description": _phrase(v, 12),
        "schema_abstract": _phrase(v, 6) if r.random() < 0.4 else None,
        "ebucore_synopsis": _phrase(v, 5) if r.random() < 0.3 else None,
        "ebucore_has_object_type": r.choice(["episode", "program", None]),
        "ha_des_min_date_created": f"{1900 + r.randrange(120)}-01-01",
        "ha_des_min_date_published": f"{1900 + r.randrange(120)}-06-01" if r.random() < 0.5 else None,
        "dcterms_available": f"20{r.randrange(10, 24)}-03-0{1 + r.randrange(9)}",
        "schema_copyright_notice": "(c) meemoo" if r.random() < 0.2 else None,
        "ha_des_number_of_pages": str(r.randrange(1, 40)) if fmt == "newspaper" else None,
    })
    _record(out, f"{iri}/format/0", "dcterms_format",
            {"intellectual_entity_id": iri, "dcterms_format": fmt})
    if r.random() < 0.2:
        _record(out, f"{iri}/format/1", "dcterms_format",
                {"intellectual_entity_id": iri, "dcterms_format": r.choice(["image", "set"])})
    for i in range(1 + r.randrange(2)):
        _record(out, f"{iri}/pid/{i}", "premis_identifier", {
            "intellectual_entity_id": iri,
            "type": r.choice(["local_id", "mediahaven", None]),
            "value": f"{e}-{i}-{v.randrange(1000)}",
        })
    sides = [
        ("schema_keywords", 3), ("schema_genre", 2), ("schema_in_language", 1),
        ("schema_spatial", 1), ("schema_temporal", 1), ("schema_alternate_name", 1),
    ]
    for table, most in sides:
        for i in range(r.randrange(most + 1)):
            _record(out, f"{iri}/{table}/{i}", table,
                    {"intellectual_entity_id": iri, table: _phrase(v, 1)})
    for i in range(1 + r.randrange(2)):
        _record(out, f"{iri}/license/{i}", "schema_license", {
            "intellectual_entity_id": iri,
            "schema_license": v.choice([
                "Publiek-Domein", "COPYRIGHT-UNDETERMINED",
                "VIAA-ONDERWIJS", "VIAA-ONDERZOEK",
            ]),
        })
    for i in range(r.randrange(4)):
        _record(out, f"{iri}/role/{i}", "schema_role", {
            "intellectual_entity_id": iri,
            # about one role in eleven names a thing the graph lacks
            "thing_id": f"{THING}{r.randrange(size.things * 11 // 10)}",
            "type": r.choice(["schema_creator", "schema_contributor", "schema_publisher"]),
            "schema_role_name": r.choice(["regisseur", "auteur", "uitgever", "spreker"]),
        })
    if r.random() < 0.5:
        _record(out, f"{iri}/ispartof/0", "schema_is_part_of", {
            "intellectual_entity_id": iri,
            "collection_id": f"{COLL}{r.randrange(size.collections)}",
            "type": r.choice(["newspaper", "episode", "series"]),
        })
    if fmt in ("film", "video", "audio"):
        carrier = f"{iri}/carrier"
        _record(out, carrier, "carrier", {
            "intellectual_entity_id": iri,
            "type": r.choice(["Geluidsband", "Beeldband"]),
            "premis_medium": r.choice(["16mm", "35mm", "betacam"]),
        })
        if r.random() < 0.5:
            _record(out, f"{carrier}/color", "ha_des_coloring_type", {
                "carrier_id": carrier,
                "ha_des_coloring_type": r.choice(["kleur", "zwartwit"]),
            })
        rep, f = f"{iri}/rep", f"{iri}/file"
        _record(out, f, "file", {
            "ebucore_has_mime_type": "video/mp4",
            "schema_duration": f"PT{r.randrange(30, 3600)}S",
            "schema_thumbnail_url": f"https://thumbs.example/{e}.jpg",
        })
        _record(out, rep, "representation", {"premis_represents": iri})
        _record(out, f"{rep}/includes", "includes",
                {"file_id": f, "representation_id": rep})
        if r.random() < 0.3:
            start = r.randrange(0, 600)
            _record(out, f"{iri}/fragment", "representation", {
                "premis_represents": iri,
                "is_media_fragment_of": f,
                "schema_start_time": str(start),
                "schema_end_time": str(start + r.randrange(5, 300)),
            })
    _record(out, f"{iri}/mam", "mh_fragment_identifier", {
        "intellectual_entity_id": iri,
        "mh_fragment_identifier": f"mam-{e}",
        "is_deleted": "true" if iri in deleted else "false",
    })
    if fmt == "newspaper":
        for p in range(r.randrange(4)):
            child = f"{iri}/page/{p}"
            _record(out, child, "intellectual_entity", {
                "schema_identifier": f"id{e:07d}p{p}",
                "schema_maintainer": f"{ORG}{org}",
                "schema_name": f"pagina {p + 1}",
                "relation_is_part_of": iri,
                "schema_position": str(p + 1) if r.random() < 0.9 else "x",
            })
            _record(out, f"{child}/format/0", "dcterms_format", {
                "intellectual_entity_id": child,
                "dcterms_format": r.choice(["newspaperpage", "newspaperfragment"]),
            })
            rep, f = f"{child}/rep", f"{child}/file"
            _record(out, rep, "representation", {
                "premis_represents": child,
                "schema_transcript": _phrase(v, 8),
            })
            _record(out, f, "file", {
                "ebucore_has_mime_type": "image/jp2",
                "schema_thumbnail_url": f"https://thumbs.example/{e}/{p}.jpg",
            })
            _record(out, f"{rep}/includes", "includes",
                    {"file_id": f, "representation_id": rep})
            if r.random() < 0.5:
                _record(out, f"{child}/mention/0", "schema_mentions", {
                    "intellectual_entity_id": child,
                    "thing_id": f"{THING}{r.randrange(size.things)}",
                    "confidence": f"0.{r.randrange(10, 99)}",
                })
            _record(out, f"{child}/mam", "mh_fragment_identifier", {
                "intellectual_entity_id": child,
                "mh_fragment_identifier": f"mam-{e}-{p}",
                "is_deleted": "false",
            })
    return out


def _dimensions(seed: int, size: KgSize) -> list[tuple[str, str, str]]:
    r = _rng(seed, "dims")
    out: list[tuple[str, str, str]] = []
    for o in range(size.orgs):
        label = f"{r.choice(WORDS).title()} {r.choice(WORDS)} {o}"
        _record(out, f"{ORG}{o}", "organization", {
            "org_identifier": f"OR-{o}",
            "skos_pref_label": label,
            "ha_org_sector": r.choice(["Cultuur", "Publieke Omroep", "Overheid"]),
            "org_classification": r.choice(["archief", "museum", "omroep"]),
        })
    for t in range(size.things):
        _record(out, f"{THING}{t}", "thing", {"schema_name": f"{r.choice(WORDS).title()} {t}"})
    for c in range(size.collections):
        _record(out, f"{COLL}{c}", "collection", {
            "schema_name": f"collectie {r.choice(WORDS)} {c}",
            "schema_location_created": r.choice(["Gent", "Brussel", "Antwerpen", None]),
        })
    return out


def _deleted_iris(seed: int, tops: range, share: float) -> set[str]:
    """Top-level entities whose MAM fragment is flagged deleted. Only
    tops: a flagged child would make the delete cascade rebuild its
    parent's document, which the benchmark's time budget leaves out."""
    r = _rng(seed, "del")
    return {f"{ENT}{e:07d}" for e in tops if r.random() < share}


def _triples_table(rows: list[tuple[str, str, str]]) -> pa.Table:
    s, p, o = zip(*rows) if rows else ((), (), ())
    return pa.table({
        "subject": pa.array(s, pa.string()),
        "predicate": pa.array(p, pa.string()),
        "object": pa.array(o, pa.string()),
    })


def kg_graph(seed: int, size: KgSize) -> tuple[pa.Table, pa.Table, dict]:
    """(base view graph, entity-complete delta, delta accounting)."""
    base_del = _deleted_iris(seed, range(size.tops), size.deleted)
    base: list[tuple[str, str, str]] = _dimensions(seed, size)
    for e in range(size.tops):
        base.extend(_entity(seed, size, e, 0, base_del))

    r = _rng(seed, "delta")
    live = [e for e in range(size.tops) if f"{ENT}{e:07d}" not in base_del]
    r.shuffle(live)
    n_changed = max(1, round(size.tops * size.changed))
    n_deleted = max(1, round(size.tops * size.new_deleted))
    n_new = max(1, round(size.tops * size.new))
    changed = sorted(live[:n_changed])
    newly_deleted = sorted(live[n_changed:n_changed + n_deleted])
    new = range(size.tops, size.tops + n_new)
    delta: list[tuple[str, str, str]] = []
    for e in changed:
        delta.extend(_entity(seed, size, e, 1, base_del))
    now_del = base_del | {f"{ENT}{e:07d}" for e in newly_deleted}
    for e in newly_deleted:
        delta.extend(_entity(seed, size, e, 0, now_del))
    for e in new:
        delta.extend(_entity(seed, size, e, 0, base_del))
    info = {
        "changed": len(changed),
        "newly_deleted": len(newly_deleted),
        "new": len(new),
        "base_deleted": len(base_del),
    }
    return _triples_table(base), _triples_table(delta), info


def post_delta(base: pa.Table, delta: pa.Table) -> pa.Table:
    """The view graph after the delta: every subject the delta re-emits
    replaced whole, which is what the FK-ordered upsert of the delta's
    pivoted records does to the standing store."""
    replaced = pc.is_in(base.column("subject"), delta.column("subject").unique())
    return pa.concat_tables([base.filter(pc.invert(replaced)), delta])


# ----------------------------------------------------------------- corpus

# Documents mix language marker words with shared filler: unrelated
# documents share few word shingles, copies share nearly all.
_LANG_WORDS = {
    "en": "the and of to in is that for".split(),
    "de": "der die und das ist nicht mit ein".split(),
    "fr": "le la les et est une dans pour".split(),
    "nl": "het een van en is niet met voor".split(),
}
_FILLER = (
    "archive film record index query table stream batch merge column "
    "value window entity graph corpus token vector shard sample"
).split()

EXACT_OFF = 1_000_000
NEAR_OFF = 2_000_000
NEAR_SUFFIX = " zz qq extra tail tokens"


def corpus_tables(seed: int, size: CorpusSize) -> dict[str, pa.Table]:
    """Documents with injected exact copies (id + EXACT_OFF, same text)
    and near copies (id + NEAR_OFF, a short suffix appended)."""
    r = _rng(seed, "corpus")
    text = {}
    for d in range(size.docs):
        marks = _LANG_WORDS[r.choices(list(_LANG_WORDS), [5, 3, 1, 1])[0]]
        text[d] = " ".join(
            r.choice(marks) if r.random() < 0.35 else r.choice(_FILLER)
            for _ in range(r.randrange(40, 90))
        )
    exact = sorted(r.sample(range(size.docs), round(size.docs * size.exact_share)))
    near = sorted(r.sample(range(size.docs), round(size.docs * size.near_share)))
    ids = [*text, *(d + EXACT_OFF for d in exact), *(d + NEAR_OFF for d in near)]
    texts = [*text.values(), *(text[d] for d in exact), *(text[d] + NEAR_SUFFIX for d in near)]
    return {"documents": pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})}


# ------------------------------------------------------------------ cache


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def materialize(root: str, workload: str, size_name: str, seed: int) -> tuple[str, dict]:
    """Write the inputs of ``workload`` for ``seed`` under ``root`` once;
    return (input dir, meta). A finished dir holds ``meta.json``, written
    last, so an interrupted generation is redone."""
    kind = {"kg_sync": "kg", "corpus_ingest": "corpus"}[workload]
    path = os.path.join(root, f"{kind}-{size_name}-{seed}")
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return path, json.load(f)
    os.makedirs(path, exist_ok=True)
    size = SIZES[size_name][kind]
    if kind == "kg":
        base, delta, info = kg_graph(seed, size)
        tables = {"base": base, "delta": delta, "post": post_delta(base, delta)}
    else:
        tables, info = corpus_tables(seed, size), {}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))
    meta = {
        "size": asdict(size),
        "rows": {name: t.num_rows for name, t in tables.items()},
        "bytes": dir_bytes(path),
        **info,
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return path, meta
