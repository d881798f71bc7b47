"""Seeded docs(doc_id, spans) generator owned by the benchmark.

The benchmark makes its own inputs instead of calling the program's
``sources.corpus.generate_docs``, so a change to the program's
generator cannot change what the benchmark measures.  Rows have the
``sources.corpus.DOCS_SCHEMA`` shape: ``(doc_id, [(kind, text,
media_ref, offset), ...])``.

Three properties set how the layers behave, and each workload picks
its own values (listed in perfbench/README.md):

* ``statements`` -- statements per text span: parse work per span;
* ``dup_share`` -- share of entity mentions written as a near-duplicate
  surface form of the entity's IRI: how many LSH candidates verify
  into edges, i.e. linking and connected-components density;
* ``media_share`` -- chance of each further media span in a document:
  rows that take the JVM-side media path instead of the parser.

Entity local names are three words long, so two unrelated IRIs in one
namespace stay below the pipeline's 0.6 shingle-Jaccard threshold and
only the near-duplicate variants link.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

_WORDS = (
    "amber falcon river stone cedar harbor lantern meadow copper signal "
    "orchid glacier tunnel velvet ember quarry saddle thistle beacon dune "
    "marble prairie canyon willow garnet spindle comet anchor basalt "
    "heron juniper kettle lagoon mosaic nectar oasis pepper quiver raven "
    "sable tundra umber vessel walnut yarrow zephyr bramble citadel delta "
    "fjord grotto hazel indigo jasper kelp lotus mantle nimbus onyx pylon"
).split()

_NAMESPACES = [
    ("ent", "http://kg.example.org/entity/"),
    ("org", "http://kg.example.org/org/"),
    ("pl", "http://kg.example.org/place/"),
]
_VOCAB = ("voc", "http://kg.example.org/vocab#")
_PREDICATES = [
    "knows", "worksFor", "locatedIn", "partOf", "mentions", "relatedTo",
    "name", "description", "founded", "population", "note", "score",
]
_LANGS = ["en", "de", "cs", "fr"]


@dataclass(frozen=True)
class CorpusSpec:
    """Input properties of one workload (see module docstring)."""

    docs: int
    entities: int
    statements: tuple[int, int]
    text_spans: tuple[int, int]
    literal_share: float
    dup_share: float
    media_share: float


def _entity(rng: random.Random) -> tuple[str, str]:
    tag, _iri = rng.choice(_NAMESPACES)
    return tag, "_".join(rng.sample(_WORDS, 3))


def _variant(name: str, v: int) -> str:
    """A near-duplicate surface form of ``name`` (one small edit)."""
    if v == 0:
        return name.replace("_", "-", 1)
    if v == 1:
        return name + "s"
    if v == 2:
        return name[0].upper() + name[1:]
    return name + "_x"


def _literal(rng: random.Random) -> str:
    roll = rng.random()
    if roll < 0.5:
        body = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 9)))
        lit = f'"{body}"'
        if rng.random() < 0.4:
            lit += "@" + rng.choice(_LANGS)
        return lit
    if roll < 0.7:
        return rng.choice(["12", "-3.5", "4.2E3", "true", "0.001", "1e-7"])
    if roll < 0.85:
        lines = [" ".join(rng.sample(_WORDS, 4)) for _ in range(2)]
        return '"""' + "\n".join(lines) + '"""'
    return '"quoted \\" ' + rng.choice(_WORDS) + '"^^xsd:string'


class _DocWriter:
    def __init__(self, spec: CorpusSpec, entities: list[tuple[str, str]], rng: random.Random):
        self.spec = spec
        self.entities = entities
        self.rng = rng

    def mention(self) -> str:
        rng = self.rng
        tag, name = self.entities[rng.randrange(len(self.entities))]
        if rng.random() < self.spec.dup_share:
            name = _variant(name, rng.randrange(4))
        return f"{tag}:{name}"

    def obj(self) -> str:
        rng = self.rng
        roll = rng.random()
        if roll < self.spec.literal_share:
            return _literal(rng)
        if roll < self.spec.literal_share + (1 - self.spec.literal_share) * 0.8:
            return self.mention()
        if rng.random() < 0.5:
            return f"[ voc:note {_literal(rng)} ; voc:score {rng.randint(0, 99)} ]"
        return "( " + " ".join(_literal(rng) for _ in range(rng.randint(1, 3))) + " )"

    def span(self) -> str:
        rng = self.rng
        lines = [f"@prefix {t}: <{iri}> ." for t, iri in (*_NAMESPACES, _VOCAB)]
        lines.append("@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .")
        for _ in range(rng.randint(*self.spec.statements)):
            preds = []
            for _ in range(rng.randint(1, 3)):
                pred = f"voc:{rng.choice(_PREDICATES)}"
                objs = ", ".join(self.obj() for _ in range(rng.randint(1, 2)))
                preds.append(f"{pred} {objs}")
            lines.append(f"{self.mention()} {' ; '.join(preds)} .")
        return "\n".join(lines)


def generate(spec: CorpusSpec, seed: int) -> list[tuple[str, list[tuple[str, str, str, int]]]]:
    """All ``spec.docs`` documents for ``seed``, in doc_id order.

    Pure function of ``(spec, seed)``: the same pair always gives
    byte-identical rows.
    """
    rng = random.Random(f"perfbench/{seed}")
    entities = [_entity(rng) for _ in range(spec.entities)]
    writer = _DocWriter(spec, entities, rng)
    rows = []
    for i in range(spec.docs):
        doc_id = f"d{seed}-{i:07d}"
        spans: list[tuple[str, str, str]] = []
        for _ in range(rng.randint(*spec.text_spans)):
            spans.append(("text", writer.span(), ""))
        while rng.random() < spec.media_share:
            spans.append(("media", "", f"media://{doc_id}/{len(spans)}"))
        rng.shuffle(spans)
        rows.append(
            (doc_id, [(k, t, m, j * 100 + rng.randint(0, 99)) for j, (k, t, m) in enumerate(spans)])
        )
    return rows


def to_dataframe(spark, rows):
    """Rows from ``generate`` as a Spark DataFrame of DOCS_SCHEMA."""
    from turtle_spark.sources.corpus import DOCS_SCHEMA

    return spark.createDataFrame(
        [
            (d, [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in spans])
            for d, spans in rows
        ],
        DOCS_SCHEMA,
    )
