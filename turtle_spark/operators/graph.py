"""Graph analytics over the materialized knowledge graph.

The KG-construction pipeline ends with a subject-hash-bucketed triple
table (SURVEY.md §3.4 stage E); these operators are the downstream
consumers a KG platform needs on day one:

* ``predicate_profile``  — ontology/schema profiling (cardinalities,
  functional-predicate detection) that drives partitioning and join
  planning decisions;
* ``dense_entity_ids``   — distributed dictionary encoding of entity
  IRIs to dense int64 ids (the prerequisite for KG-embedding training
  and compact adjacency representations);
* ``pagerank``           — fixed-point integer PageRank: exact int64
  arithmetic makes every iteration's result independent of partition
  count, task order, and retries — float PageRank is none of those
  (double addition does not commute), which matters both for the
  oracle gate here and for reproducible runs at 1000 executors;
* ``negative_samples``   — deterministic corrupted triples for
  KG-embedding training (TransE-style), hash-seeded so regeneration
  is stable across runs and cluster sizes.

No counterpart in the reference (a parser library); these belong to
the pipeline layer the brief adds on top (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from turtle_spark.operators.skew import capped_block_pairs, pin

# fixed-point scale for PageRank: micro-micro units.  10^12 per unit
# rank leaves int64 headroom of ~9.2e6 units — safe for any realistic
# per-node rank mass (total mass is bounded by n_nodes units only when
# every node funnels into one sink; overflow would need a 9-million-
# node star, at which point SCALE can drop a digit).
_SCALE = 1_000_000_000_000
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as an exact rational


def entity_edges(triples: DataFrame) -> DataFrame:
    """Distinct entity->entity edges (subject -> iri-object), self
    loops dropped — the adjacency view of the triple table."""
    return (
        triples.where(F.col("objecttype") == "iri")
        .select(F.col("subject").alias("src"), F.col("object").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )


def kg_entities(triples: DataFrame) -> DataFrame:
    """Distinct entity universe of a triple table: every subject plus
    every iri-typed object, one ``entity`` string column."""
    return (
        triples.select(F.col("subject").alias("entity"))
        .union(
            triples.where(F.col("objecttype") == "iri").select(
                F.col("object").alias("entity")
            )
        )
        .dropDuplicates()
    )


def predicate_profile(triples: DataFrame) -> DataFrame:
    """Per-predicate schema profile of a triple table.

    Columns: ``n_triples``, ``n_subjects``, ``n_objects`` (distinct),
    ``max_fanout`` (most objects any one subject has under this
    predicate) and ``is_functional`` (max_fanout == 1 — the property
    that licenses 1:1 join planning on that predicate).

    Two-level aggregation: the (predicate, subject) stage pre-shrinks
    the fanout computation map-side, then one reduce per predicate.
    Both shuffles carry keys only; nothing is collected.
    """
    per_subject = triples.groupBy("predicate", "subject").agg(
        F.count("*").alias("_n"),
        F.count_distinct("object").alias("_n_obj"),
    )
    fanout = per_subject.groupBy("predicate").agg(
        F.sum("_n").alias("n_triples"),
        F.count("*").alias("n_subjects"),
        F.max("_n_obj").alias("max_fanout"),
    )
    objects = triples.groupBy("predicate").agg(
        F.count_distinct("object").alias("n_objects")
    )
    return (
        fanout.join(objects, "predicate")
        .select(
            "predicate",
            "n_triples",
            "n_subjects",
            "n_objects",
            "max_fanout",
            (F.col("max_fanout") == 1).alias("is_functional"),
        )
    )


def dense_entity_ids(
    entities: DataFrame, col: str = "entity", n_buckets: int = 64
) -> DataFrame:
    """Dictionary-encode distinct entity strings to dense ids
    ``0..N-1`` — deterministically, without a global sort bottleneck.

    A single ``row_number`` over the whole table would serialize on
    one reducer; instead each entity hashes into one of ``n_buckets``
    buckets, gets a within-bucket rank (ordered by entity string), and
    the bucket's base offset is added.  The only driver-side data is
    the ``n_buckets`` bucket counts — bounded and tiny at any corpus
    size.  Ids are dense and deterministic (hash + string order), just
    not globally string-ordered, which no consumer needs.
    """
    base = (
        entities.select(F.col(col).alias("entity"))
        .where(F.col("entity").isNotNull())
        .dropDuplicates()
        .withColumn("_b", F.pmod(F.xxhash64("entity"), F.lit(n_buckets)))
    )
    counts = {
        r["_b"]: r["n"]
        for r in base.groupBy("_b").agg(F.count("*").alias("n")).collect()
    }
    spark = entities.sparkSession
    rows, acc = [], 0
    for b in range(n_buckets):
        rows.append((b, acc))
        acc += counts.get(b, 0)
    offsets = F.broadcast(
        spark.createDataFrame(rows, "_b long, _off long")
    )
    w = Window.partitionBy("_b").orderBy("entity")
    return (
        base.join(offsets, "_b")
        .select(
            "entity",
            (F.col("_off") + F.row_number().over(w) - 1)
            .cast("long")
            .alias("entity_id"),
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Fixed-point integer PageRank over ``edges(src, dst)``.

    Ranks live in int64 micro-units (``_SCALE`` per unit rank);
    contributions are floor-divided by out-degree and damping is the
    exact rational 85/100, so every arithmetic step is integer-exact
    and the result is bit-identical at any parallelism — the property
    the scaling evidence relies on.  Dangling-node mass is dropped
    (the standard simplification; documented, deterministic).

    Per iteration: one shuffle join (ranks x edges on src) + one
    groupBy(dst) sum; lineage is truncated every ``checkpoint_every``
    rounds.  Returns ``(node, rank_fp)`` — callers divide by
    ``10**12`` for a float view.

    ``edges``/``nodes``/``degree`` are pinned once up front: every
    iteration references all three, and without the pin each round
    re-runs the node-dedup and degree shuffles from the source scan
    (20 iterations = 40 redundant shuffles).  Caching the edge list is
    the standard iterative-graph trade (GraphX does the same); it is
    O(E) block storage that spills to disk at web scale.
    """
    edges = pin(edges.select("src", "dst"))
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    degree = pin(edges.groupBy("src").agg(F.count("*").alias("deg")))
    ranks = nodes.withColumn("rank_fp", F.lit(_SCALE).cast("long"))
    base_fp = F.lit((_DAMP_DEN - _DAMP_NUM) * _SCALE // _DAMP_DEN).cast("long")
    for i in range(iterations):
        contribs = (
            ranks.join(edges, ranks["node"] == edges["src"])
            .join(degree, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fp div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    base_fp
                    + F.expr(
                        f"{_DAMP_NUM} * coalesce(inflow, 0L) div {_DAMP_DEN}"
                    )
                ).cast("long").alias("rank_fp"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def pagerank_resume(
    edges: DataFrame,
    prev_ranks: DataFrame,
    iterations: int = 4,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Resume / warm-start the integer fixed-point PageRank.

    Two uses, one exact contract:

    * **resume**: continuing from a checkpointed rank table is
      BIT-IDENTICAL to the uninterrupted run —
      ``pagerank_resume(e, pagerank(e, 6), 4) == pagerank(e, 10)``
      exactly, because the iteration is a pure integer function of the
      rank table (pinned by test);
    * **incremental maintenance**: after an edge delta, a few warm
      iterations from the previous snapshot's ranks recover the new
      graph's ranks far closer than the same number of cold
      iterations — the O(delta-mixing) upkeep path for a 10^12-edge
      graph where a full 10-round recompute per snapshot is the cost
      ceiling.  Nodes new to the graph start at the uniform
      ``_SCALE`` init; departed nodes drop out via the node set.

    Same per-iteration plan as ``pagerank`` (one join + one groupBy,
    pinned edges/nodes/degree, periodic lineage truncation).
    """
    edges = pin(edges.select("src", "dst"))
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    degree = pin(edges.groupBy("src").agg(F.count("*").alias("deg")))
    ranks = nodes.join(
        prev_ranks.select("node", F.col("rank_fp").alias("_prev")),
        "node",
        "left",
    ).select(
        "node",
        F.coalesce(F.col("_prev"), F.lit(_SCALE).cast("long")).alias("rank_fp"),
    )
    base_fp = F.lit((_DAMP_DEN - _DAMP_NUM) * _SCALE // _DAMP_DEN).cast("long")
    for i in range(iterations):
        contribs = (
            ranks.join(edges, ranks["node"] == edges["src"])
            .join(degree, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fp div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    base_fp
                    + F.expr(
                        f"{_DAMP_NUM} * coalesce(inflow, 0L) div {_DAMP_DEN}"
                    )
                ).cast("long").alias("rank_fp"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def negative_samples(
    triples: DataFrame,
    entity_ids: DataFrame,
    per_triple: int = 1,
) -> DataFrame:
    """Deterministic corrupted triples for KG-embedding training.

    For each entity-object triple, the object is replaced by the
    entity whose dense id is ``xxhash64(s|p|o|k) mod N`` (skipping
    forward by one when the draw hits the true object) — TransE-style
    negatives, reproducible across runs, retries, and cluster sizes
    because the "randomness" is a hash of the triple itself.

    ``entity_ids`` is the ``dense_entity_ids`` output.  The id->entity
    resolution is an equi-join on the sampled id; the dictionary side
    shuffles once however many negatives are drawn.
    """
    n = entity_ids.count()
    if n < 2:
        raise ValueError("need at least 2 entities to draw negatives")
    ent = triples.where(F.col("objecttype") == "iri")
    ks = F.explode(F.sequence(F.lit(0), F.lit(per_triple - 1))).alias("k")
    drawn = ent.select(
        "subject", "predicate", F.col("object").alias("true_object"), ks
    ).withColumn(
        "_draw",
        F.pmod(
            F.xxhash64(
                F.concat_ws("|", "subject", "predicate", "true_object", "k")
            ),
            F.lit(n),
        ),
    )
    # resolve the drawn id and the true object's id in one pass each;
    # if the draw equals the true object, step to the next id mod N
    true_ids = entity_ids.select(
        F.col("entity").alias("true_object"), F.col("entity_id").alias("_tid")
    )
    drawn = drawn.join(true_ids, "true_object", "left").withColumn(
        "_neg_id",
        F.when(F.col("_draw") == F.col("_tid"), (F.col("_draw") + 1) % n)
        .otherwise(F.col("_draw")),
    )
    neg = entity_ids.select(
        F.col("entity_id").alias("_neg_id"), F.col("entity").alias("neg_object")
    )
    return drawn.join(neg, "_neg_id").select(
        "subject", "predicate", "true_object", F.col("k").cast("int").alias("k"),
        "neg_object",
    )


def transitive_closure(
    edges: DataFrame,
    max_rounds: int = 16,
) -> DataFrame:
    """Reachability closure of ``edges(src, dst)`` by path doubling.

    Returns every (src, dst) with a directed path of length >= 1 —
    (s, s) appears iff ``s`` lies on a cycle.  Rounds double the
    covered path length (R := R ∪ R∘R), so a hierarchy of depth d
    closes in ceil(log2 d) self-joins instead of d breadth-first
    rounds — at 1000 executors that is the difference between 5 and
    40 shuffle barriers for a depth-30 ontology.  Each round is one
    equi-join (dst = src) + dedup; lineage is truncated per round
    (``localCheckpoint``) and the fixpoint test reuses the
    materialized count, so the driver holds one scalar per round.

    Intended for BOUNDED-DEPTH relation subgraphs (rdfs:subClassOf /
    subPropertyOf hierarchies, part-of chains): closure output is
    O(n^2) in the worst case, so at web scale you close the ontology
    predicate slice (thousands of classes), not the instance graph —
    filter ``edges`` to one predicate before calling.  Raises if the
    fixpoint is not reached within ``max_rounds`` (2^16-step paths
    means the input was not the bounded hierarchy this is for).
    """
    reach = edges.select("src", "dst").dropDuplicates().localCheckpoint(eager=True)
    n = reach.count()
    for _ in range(max_rounds):
        hop = (
            reach.alias("a")
            .join(reach.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        reach = reach.union(hop).dropDuplicates().localCheckpoint(eager=True)
        n_new = reach.count()
        if n_new == n:
            return reach
        n = n_new
    raise RuntimeError(
        f"transitive_closure: no fixpoint after {max_rounds} doubling rounds "
        f"(paths longer than 2^{max_rounds}); was the input a bounded hierarchy?"
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected view of
    ``edges(src, dst)`` — (node, n_triangles), nodes with zero
    triangles absent.

    Degree-ordered enumeration (the forward/compact-forward algorithm,
    Latapy 2008): canonicalize each undirected edge once, orient every
    edge from its lower-(degree, node) endpoint to the higher, then a
    wedge is two out-edges of one node and a triangle is a wedge whose
    far endpoints are themselves an oriented edge.  The orientation is
    the scale story: out-degree under it is bounded by O(sqrt(|E|))
    for any graph (arboricity bound), so a celebrity node with 10^7
    neighbors contributes wedges from its LOW-degree side only — a
    plain neighbor self-join would generate 10^14 wedges from that one
    node.  Each triangle appears exactly once (from its minimum-rank
    corner), then fans back out to credit all three corners.

    Plan: degree agg (1 shuffle) + broadcast-or-shuffle joins on
    8-byte-ish keys; the wedge join and the closing join are both
    equi-joins — no cartesian anywhere.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    # every undirected edge contributes to both endpoints' degrees
    deg = pin(
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient low -> high in (degree, node) order; pinned because the
    # closing join references the SAME oriented edge set again
    oriented = pin(
        und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.u") == F.col("y.u"))
        .where(F.col("x.v") < F.col("y.v"))
        .select(
            F.col("x.u").alias("w0"), F.col("x.v").alias("w1"), F.col("y.v").alias("w2")
        )
    )
    # the closing edge between the wedge tips may be oriented either
    # way (their degree order is independent of the shared corner's),
    # so match it in canonical (min, max) form — wedges already emit
    # w1 < w2
    closing = oriented.select(
        F.least("u", "v").alias("w1"), F.greatest("u", "v").alias("w2")
    )
    tris = wedges.join(closing, ["w1", "w2"])
    corners = (
        tris.select(F.col("w0").alias("node"))
        .union(tris.select(F.col("w1").alias("node")))
        .union(tris.select(F.col("w2").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over the undirected view
    of ``edges(src, dst)``: lcc = 2·T / (deg·(deg−1)) — how close a
    node's neighborhood is to a clique, the standard local cohesion
    metric for entity graphs (hub detection, community seeding).

    Triangle counts come from ``triangle_count`` (degree-ordered wedge
    enumeration — the O(√E) fan-out bound is what makes this safe on
    celebrity nodes); degrees are one narrow aggregation.  Every
    quantity is an exact integer until the single final division, so
    the report is bit-identical at any parallelism.  Nodes of degree
    < 2 are omitted (their lcc is trivially 0 — no wedge to close);
    zero-triangle nodes of degree >= 2 are kept, a completeness
    difference from ``triangle_count``'s nonzero-only output.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    tri = triangle_count(edges)
    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            t.alias("n_triangles"),
            F.round(
                (F.lit(2) * t).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                6,
            ).alias("lcc"),
        )
    )


_TRIPLE_KEY = ["subject", "predicate", "object", "label", "datatype", "objecttype"]


def snapshot_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-predicate triple delta between two KG snapshots — the
    incremental-construction primitive: when a corpus snapshot is
    re-crawled, the materialized graph is updated by the (added,
    removed) triple sets, not rebuilt.

    Snapshots compare as DISTINCT logical triples (full literal
    identity: label + datatype + objecttype participate in the key, so
    ``"1"^^xsd:int`` vs ``"1"`` is a real delta).  Both anti-joins
    shuffle on the same key, and at web scale both sides are the SAME
    subject-hash-bucketed triple table layout (sources/storage.py), so
    the compare co-locates instead of re-shuffling.

    Returns one row per predicate present in either delta:
    (predicate, n_added, n_removed, added_fp, removed_fp) where the
    fps XOR-fingerprint the exact member sets.
    """
    o = old.select(*_TRIPLE_KEY).dropDuplicates(_TRIPLE_KEY)
    n = new.select(*_TRIPLE_KEY).dropDuplicates(_TRIPLE_KEY)
    fp = F.expr(
        "bit_xor(xxhash64(concat_ws('|', subject, object, label, datatype,"
        " objecttype)))"
    )

    def _per_pred(df: DataFrame, cnt: str, fpc: str) -> DataFrame:
        return df.groupBy("predicate").agg(
            F.count("*").alias(cnt), fp.alias(fpc)
        )

    added = _per_pred(n.join(o, _TRIPLE_KEY, "left_anti"), "n_added", "added_fp")
    removed = _per_pred(
        o.join(n, _TRIPLE_KEY, "left_anti"), "n_removed", "removed_fp"
    )
    return (
        added.join(removed, "predicate", "full_outer")
        .select(
            "predicate",
            F.coalesce("n_added", F.lit(0)).cast("long").alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("added_fp", F.lit(0)).cast("long").alias("added_fp"),
            F.coalesce("removed_fp", F.lit(0)).cast("long").alias("removed_fp"),
        )
    )


def entity_cards(triples: DataFrame) -> DataFrame:
    """Per-entity summary cards: one groupBy-subject aggregation that
    profiles each IRI entity (triple count, predicate vocabulary,
    literal vs link mix, XOR content fingerprint) — the materialized
    view an entity-serving layer reads instead of scanning triples.

    Bag semantics over the triple stream: the same logical triple
    asserted by k documents counts k times (provenance weight).  One
    hash-shuffle on subject; at scale the subject-hash-bucketed table
    layout makes this aggregation exchange-free.
    """
    t = triples.where(~F.col("subject").startswith("_:"))
    return t.groupBy("subject").agg(
        F.count("*").alias("n_triples"),
        F.count_distinct("predicate").alias("n_predicates"),
        F.sum((F.col("objecttype") == "literal").cast("long")).alias("n_literals"),
        F.sum(
            (
                (F.col("objecttype") == "iri")
                & ~F.col("object").startswith("_:")
            ).cast("long")
        ).alias("n_links"),
        F.expr("bit_xor(xxhash64(concat_ws('|', predicate, object)))").alias(
            "card_fp"
        ),
    )


def characteristic_sets(triples: DataFrame, min_support: int = 1) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011): group
    subjects by their exact set of distinct predicates and profile each
    set — THE structural summary of an RDF graph, used for cardinality
    estimation of star joins, for physical design (which predicate
    groups deserve a co-located table), and as a schema-discovery
    report over schemaless triples.

    Operates on the SET view of the graph (duplicate assertions of one
    logical triple collapse first — a characteristic set describes the
    graph, not the provenance stream).  Returns one row per distinct
    predicate set: its space-joined signature, predicate count, the
    number of subjects exhibiting exactly that set, and the total
    distinct triples those subjects carry (so n_triples / n_subjects
    is the star-join multiplicity estimate the planner wants).

    ``min_support`` prunes sets exhibited by fewer subjects (a
    planner keeps only sets worth a statistics entry; singletons are
    noise at web scale).

    Scale shape: two hash aggregations, both map-side combinable —
    one pass over the deduped triple set builds each subject's sorted
    predicate set AND its distinct-triple count together (keyed by
    the subject the bucketed triple table already clusters by, so at
    rest this is exchange-free), then set-signature → counts, whose
    key domain is the number of DISTINCT structures in the graph
    (real web KGs: a few thousand), so the second shuffle is
    trivially small.  No joins, no windows, no Python.
    """
    per_subject = (
        triples.select(*_TRIPLE_KEY)
        .dropDuplicates(_TRIPLE_KEY)
        .groupBy("subject")
        .agg(
            F.sort_array(F.collect_set("predicate")).alias("pset"),
            F.count("*").alias("n_t"),
        )
    )
    return (
        per_subject.groupBy("pset")
        .agg(
            F.count("*").alias("n_subjects"),
            F.sum("n_t").alias("n_triples"),
        )
        .where(F.col("n_subjects") >= int(min_support))
        .select(
            F.concat_ws(" ", "pset").alias("cs"),
            F.size("pset").cast("int").alias("n_preds"),
            F.col("n_subjects").cast("long").alias("n_subjects"),
            F.col("n_triples").cast("long").alias("n_triples"),
        )
    )


def k_core(edges: DataFrame, k: int, max_rounds: int = 64) -> DataFrame:
    """Nodes of the k-core of the undirected graph (every node has
    degree >= k within the core), with their in-core degree.

    Parallel peeling: each round drops ALL nodes of degree < k at once
    (one degree aggregation + two semi-joins, lineage truncated per
    round).  Round count is the graph's peeling depth — O(log n) on
    heavy-tailed web/KG graphs, where each sweep removes the whole
    low-degree fringe; the adversarial worst case (a bare chain peels
    two nodes per round) is bounded by ``max_rounds`` and raises
    rather than silently looping.  Used for graph curation: the k-core
    isolates densely-linked entity neighborhoods from extraction
    noise, the same role it plays in public web-graph pipelines.

    Deterministic at any parallelism: peeling has a unique fixpoint
    (the k-core is the maximal subgraph, independent of removal
    order).
    """
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .dropDuplicates()
    )
    cur = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    n_edges = cur.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        deg = cur.groupBy("src").agg(F.count("*").alias("degree"))
        keep = deg.where(F.col("degree") >= k).select(F.col("src").alias("_keep"))
        cur = (
            cur.join(keep, cur["src"] == keep["_keep"], "left_semi")
            .join(keep, cur["dst"] == keep["_keep"], "left_semi")
            .localCheckpoint(eager=True)
        )
        n_new = cur.count()
        if n_new == n_edges:
            return deg.where(F.col("degree") >= k).select(
                F.col("src").alias("node"), "degree"
            )
        n_edges = n_new
    if n_edges == 0:
        # fully peeled: empty result with the input's key type preserved
        return cur.groupBy("src").agg(F.count("*").alias("degree")).select(
            F.col("src").alias("node"), "degree"
        )
    raise RuntimeError(
        f"k_core: no fixpoint after {max_rounds} peeling rounds "
        f"({n_edges} edges left); raise max_rounds for chain-like graphs"
    )


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 6,
    undirected: bool = True,
) -> DataFrame:
    """Unweighted shortest-path levels from a seed set — deterministic
    frontier BFS.

    Returns ``(node, level)`` for every node within ``max_depth`` hops
    of any source (level = min hop distance; sources are level 0).
    The entity-serving use: "everything within K hops of these seed
    entities" is the canonical KG neighborhood-export query, and
    unlike ``transitive_closure`` (all-pairs, path-doubling) it is
    linear in the reached subgraph — the right tool when the seed set
    is small and the graph is web-scale.

    Per level: one equi-join (frontier x edges) + one dedup + one
    left-anti join against the visited set, lineage truncated every
    level.  Min-level semantics are order-free (a node joins the
    visited set the first level it appears), so the result is
    partition- and retry-independent.  The only driver-side values are
    one frontier count per level (early exit) — bounded by
    ``max_depth`` scalars, same pattern as ``cc.py``'s convergence
    check.
    """
    if max_depth < 0:
        raise ValueError("max_depth must be >= 0")
    edges = edges.select("src", "dst")
    if undirected:
        edges = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    edges = pin(edges.dropDuplicates())
    src_col = sources.columns[0]
    visited = (
        sources.select(F.col(src_col).alias("node"))
        .dropDuplicates()
        .withColumn("level", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .dropDuplicates()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited


def collection_arrays(triples: DataFrame, max_rounds: int = 16) -> DataFrame:
    """Recover every RDF collection as an ORDERED array:
    (head, n_items, items array<string>).

    The Turtle parser desugars ``( a b c )`` into an rdf:first/rdf:rest
    spine (``core/parser.py``; reference ``scanner/scanner.go`` emits
    the same shorthand) — and the one thing the flat triple view loses
    is the ORDER.  ``q_path_members``'s ``rest*/first`` path recovers
    the member SET; this operator recovers the sequence, which is what
    a downstream consumer of argument lists / ordered authorships
    actually needs.

    Position tracking is distance-carrying path doubling: reach(src,
    dst, d) starts as the identity (d=0) plus the rest edges (d=1) and
    each round composes reach with itself (d adds), so a length-L list
    closes in ceil(log2 L) shuffle barriers — the log-depth discipline
    of ``transitive_closure``, with the same bounded-input contract
    (list spines are document-local and short; output is O(sum L^2)
    spine pairs, never corpus-quadratic).  Spines are simple chains,
    so each (src, dst) has exactly one distance and the per-round
    dedup is exact.  Heads are cells no rest edge points at — a nested
    list is an item of its parent AND a head of its own row, matching
    the Turtle nesting semantics.
    """
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rest = (
        triples.where(
            (F.col("predicate") == rdf + "rest")
            & (F.col("objecttype") == "iri")
            & (F.col("object") != rdf + "nil")
        )
        .select(F.col("subject").alias("src"), F.col("object").alias("dst"))
        .dropDuplicates()
    )
    first = (
        triples.where(F.col("predicate") == rdf + "first")
        .select(F.col("subject").alias("cell"), F.col("object").alias("item"))
        .dropDuplicates()
    )
    cells = first.select(F.col("cell").alias("node")).dropDuplicates()
    reach = (
        cells.select(
            F.col("node").alias("src"), F.col("node").alias("dst"), F.lit(0).alias("d")
        )
        .unionByName(rest.withColumn("d", F.lit(1)))
        .localCheckpoint(eager=True)
    )
    n = reach.count()
    for _ in range(max_rounds):
        hop = (
            reach.alias("a")
            .join(reach.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
                (F.col("a.d") + F.col("b.d")).alias("d"),
            )
        )
        reach = (
            reach.union(hop)
            .dropDuplicates(["src", "dst"])
            .localCheckpoint(eager=True)
        )
        n_new = reach.count()
        if n_new == n:
            break
        n = n_new
    else:
        raise RuntimeError(
            f"collection_arrays: no fixpoint after {max_rounds} doubling "
            "rounds; was the input a document-local list spine?"
        )
    heads = cells.join(rest, cells["node"] == rest["dst"], "left_anti")
    ordered = (
        heads.join(reach, heads["node"] == reach["src"])
        .join(first, reach["dst"] == first["cell"])
        .groupBy(F.col("node").alias("head"))
        .agg(
            F.count("*").alias("n_items"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "item"))),
                lambda x: x["item"],
            ).alias("items"),
        )
    )
    return ordered


# fixed-point scale for HITS: scores are sum-normalized every half-step
# (unlike PageRank there is no damping to bound growth), so per-node
# values stay <= _HITS_SCALE and the DECIMAL(38,0)-routed products
# never approach the 38-digit ceiling even at 10^9 nodes.
_HITS_SCALE = 1_000_000


def hits(
    edges: DataFrame,
    iterations: int = 8,
) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg hubs & authorities) over
    ``edges(src, dst)``.

    Authority(v) = sum of hub scores over in-neighbors; hub(u) = sum
    of authority scores over out-neighbors; each half-step is
    SUM-normalized back to ``_HITS_SCALE`` total mass.  All arithmetic
    is integer-exact: raw sums are int64, the normalizing product
    ``raw * SCALE`` is routed through DECIMAL(38,0) and floor-divided
    (``div``) by the exact total, so — like :func:`pagerank` — the
    result is bit-identical at any parallelism, task order, or retry
    count.  Float HITS is none of those (the normalizing L2 norm and
    the dot products both reorder under shuffle).

    Per half-step: one shuffle join (scores x edges) + one groupBy
    sum + a 1-row total aggregate broadcast back (no driver collect).
    Nodes without in-edges (resp. out-edges) hold authority (resp.
    hub) 0, matching the spec's fixpoint.

    Lineage is truncated EVERY iteration (not every K like
    :func:`pagerank`): normalization references its input subtree
    twice (rows + the total aggregate), so an untruncated plan
    quadruples per iteration — 4^i logical-plan growth that stalls
    Catalyst analysis long before execution.  One localCheckpoint of
    the two O(V) score tables per round is the standard iterative
    trade and keeps the per-round plan constant-size.

    Returns ``(node, hub_fp, auth_fp)``; callers divide by ``10**6``
    for a float view.
    """
    edges = pin(edges.select("src", "dst"))
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )

    def _normalize(scores: DataFrame, col: str) -> DataFrame:
        total = scores.agg(F.sum(col).alias("_total"))
        return (
            scores.crossJoin(F.broadcast(total))
            .select(
                "node",
                # div by a zero/NULL total (possible only on an empty
                # edge set) yields NULL -> held at 0
                F.coalesce(
                    F.expr(
                        f"CAST({col} AS DECIMAL(38,0)) * {_HITS_SCALE} "
                        f"div _total"
                    ),
                    F.lit(0),
                ).cast("long").alias(col),
            )
        )

    hubs = nodes.withColumn("hub_fp", F.lit(_HITS_SCALE).cast("long"))
    auths = nodes.withColumn("auth_fp", F.lit(0).cast("long"))
    for i in range(iterations):
        raw_a = (
            hubs.join(edges, hubs["node"] == edges["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub_fp").alias("auth_fp"))
        )
        auths = _normalize(
            nodes.join(raw_a, "node", "left").select(
                "node", F.coalesce("auth_fp", F.lit(0)).alias("auth_fp")
            ),
            "auth_fp",
        )
        raw_h = (
            auths.join(edges, auths["node"] == edges["dst"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth_fp").alias("hub_fp"))
        )
        hubs = _normalize(
            nodes.join(raw_h, "node", "left").select(
                "node", F.coalesce("hub_fp", F.lit(0)).alias("hub_fp")
            ),
            "hub_fp",
        )
        if i + 1 < iterations:
            hubs = hubs.localCheckpoint(eager=True)
            auths = auths.localCheckpoint(eager=True)
    return nodes.join(hubs, "node", "left").join(auths, "node", "left").select(
        "node",
        F.coalesce("hub_fp", F.lit(0)).cast("long").alias("hub_fp"),
        F.coalesce("auth_fp", F.lit(0)).cast("long").alias("auth_fp"),
    )


# Adamic-Adar weights quantized to integers: weight(z) = SCALE div
# floor(log2(deg(z))) — exact int arithmetic (same bit-length trick as
# operators/importance.py lm_quality), monotone in the real AA weight,
# and bit-identical at any parallelism where float 1/ln(deg) sums are
# not (addition order varies under shuffle).
_AA_SCALE = 1_000_000


def link_prediction(
    edges: DataFrame,
    neighbor_cap: int = 64,
    min_common: int = 1,
) -> DataFrame:
    """Common-neighbor link prediction with quantized Adamic-Adar
    scores over the UNDIRECTED view of ``edges(src, dst)``.

    For every non-adjacent node pair (a, b) sharing at least
    ``min_common`` common neighbors z, emits::

        (a, b, n_common, aa_fp)   with  aa_fp = sum_z SCALE div log2(deg z)

    — the KG-completion candidate list (which entity pairs the graph
    is "missing" an edge between), ranked by the classic Adamic-Adar
    signal: a shared low-degree neighbor is stronger evidence than a
    shared celebrity hub.

    Scale shape: every pair is generated THROUGH its common neighbor
    z — one wedge expansion per z, never an all-pairs join.  Each z's
    sorted neighbor list is capped at ``neighbor_cap`` BEFORE it
    materializes (``skew.capped_block_pairs``, the bucket-cap
    contract: a celebrity z with 10^6 neighbors would otherwise emit
    C(10^6, 2) wedges from one reducer).  The cap keeps each z's
    ``neighbor_cap`` smallest neighbors deterministically, so fan-out
    is bounded at C(cap, 2) pairs per node; dropped wedges cost only
    recall on pairs whose ONLY common neighbors are capped celebrities
    — exactly the pairs AA down-weights toward zero anyway.  Existing
    edges are removed with one LEFT ANTI equi-join; weights are pure
    column arithmetic (no Python anywhere).
    """
    both = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    adj = (
        both.union(both.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates()
        .select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))
    # a block that yields a pair has >= 2 members, so its node has
    # deg >= 2: the degree join only attaches the wedge weight
    wedges = (
        capped_block_pairs(adj, ["node"], "nbr", "nbr", neighbor_cap)
        .join(deg, "node")
        .select(
            F.col("x").alias("a"),
            F.col("y").alias("b"),
            F.expr(f"{_AA_SCALE} div (length(bin(deg)) - 1)").alias("w"),
        )
    )
    scored = (
        wedges.groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum("w").cast("long").alias("aa_fp"),
        )
        .where(F.col("n_common") >= min_common)
    )
    existing = adj.where(F.col("node") < F.col("nbr")).select(
        F.col("node").alias("a"), F.col("nbr").alias("b")
    )
    return scored.join(existing, ["a", "b"], "left_anti")


def functional_conflicts(
    triples: DataFrame, max_violation_pct: int = 5
) -> DataFrame:
    """Functional-property conflict report — the KG publish gate for
    predicates that SHOULD be 1:1 but aren't.

    A predicate is "likely functional" when at most
    ``max_violation_pct`` percent of its subjects carry more than one
    distinct object (full logical object identity: lexical form +
    language + datatype + node kind, the ``snapshot_delta`` key
    discipline).  For each such predicate the report lists how many
    subjects violate, the worst fan-out, and an XOR fingerprint of the
    violating subjects — the queue an entity-resolution reviewer works
    through before the canonical graph ships (two birth dates on one
    person is an extraction or linking bug, not data).

    Two key-bounded aggregations — (predicate, subject) then
    (predicate) — both map-side combinable; the percent filter is
    exact integer cross-multiplication (``n_multi * 100 <= pct *
    n_subjects``), so the report is bit-identical at any parallelism.
    Declared-functional predicates can be checked instead by filtering
    ``triples`` to them first; this derivation form needs no ontology.
    """
    per_sub = triples.groupBy("predicate", "subject").agg(
        F.count_distinct(
            F.struct("object", "label", "datatype", "objecttype")
        ).alias("_n_obj")
    )
    totals = per_sub.groupBy("predicate").agg(
        F.count("*").alias("n_subjects")
    )
    violations = (
        per_sub.where(F.col("_n_obj") > 1)
        .groupBy("predicate")
        .agg(
            F.count("*").alias("n_multi"),
            F.max("_n_obj").alias("max_objects"),
            F.expr("bit_xor(xxhash64(subject))").alias("conflict_fp"),
        )
    )
    return (
        totals.join(violations, "predicate")
        .where(
            F.col("n_multi") * 100 <= F.lit(max_violation_pct) * F.col("n_subjects")
        )
        .select(
            "predicate", "n_subjects", "n_multi", "max_objects", "conflict_fp"
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Fixed-point integer PERSONALIZED PageRank: the reset mass lands
    only on ``seeds(node)`` instead of uniformly — the classic
    entity-relatedness signal (how reachable is v from the seed set
    under random walks with restart), used as a linking prior: among
    candidate entities for an ambiguous mention, prefer the one
    related to the document's already-linked seeds.

    Same exact-arithmetic discipline as :func:`pagerank` (int64
    micro-units, floor division, rational damping), so scores are
    bit-identical at any parallelism.  Per iteration one shuffle join
    + one groupBy sum; the seed membership rides as a pre-joined 0/1
    base column, so personalization adds NO per-iteration work.
    Non-seed nodes hold rank 0 until inflow reaches them — only the
    seed-reachable subgraph ever carries mass.
    """
    edges = pin(edges.select("src", "dst"))
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    degree = pin(edges.groupBy("src").agg(F.count("*").alias("deg")))
    seed_mass = F.lit((_DAMP_DEN - _DAMP_NUM) * _SCALE // _DAMP_DEN).cast("long")
    base = pin(
        nodes.join(
            seeds.select(F.col("node"), F.lit(1).alias("_is_seed")).dropDuplicates(
                ["node"]
            ),
            "node",
            "left",
        ).select(
            "node",
            F.when(F.col("_is_seed") == 1, seed_mass)
            .otherwise(F.lit(0))
            .cast("long")
            .alias("base_fp"),
        )
    )
    ranks = base.select("node", F.col("base_fp").alias("rank_fp"))
    for i in range(iterations):
        contribs = (
            ranks.join(edges, ranks["node"] == edges["src"])
            .join(degree, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fp div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = base.join(contribs, "node", "left").select(
            "node",
            (
                F.col("base_fp")
                + F.expr(f"{_DAMP_NUM} * coalesce(inflow, 0L) div {_DAMP_DEN}")
            ).cast("long").alias("rank_fp"),
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


_RDF_MEMBER_RE = r"^http://www\.w3\.org/1999/02/22-rdf-syntax-ns#_([0-9]+)$"


def container_arrays(triples: DataFrame) -> DataFrame:
    """Recover RDF container membership (``rdf:_1, rdf:_2, ...`` on
    ``rdf:Seq`` / ``rdf:Bag`` / ``rdf:Alt`` heads) as ORDERED arrays:
    ``(head, n_items, items array<string>)``.

    The companion of :func:`collection_arrays`: collections desugar to
    a first/rest spine (order = pointer chain, recovered by path
    doubling); containers carry order IN THE PREDICATE (rdf:_n), so
    recovery is one predicate-regex scan + one groupBy(head) with an
    in-array sort by the numeric index — no joins, no iteration, and
    the index extraction/sort is pure codegen.  Duplicate assertions
    of one (head, index, item) collapse; a head asserting two
    DIFFERENT items at one index keeps both (bag semantics of the
    underlying triple store), ordered (index, item).
    """
    member = triples.where(F.col("predicate").rlike(_RDF_MEMBER_RE)).select(
        F.col("subject").alias("head"),
        F.regexp_extract("predicate", _RDF_MEMBER_RE, 1).cast("long").alias("_i"),
        F.col("object").alias("item"),
    ).dropDuplicates()
    return member.groupBy("head").agg(
        F.count("*").cast("long").alias("n_items"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "item"))),
            lambda x: x["item"],
        ).alias("items"),
    )


def shortest_paths(
    edges: DataFrame,
    landmarks: DataFrame,
    max_iterations: int = 20,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Multi-source weighted shortest paths (distributed Bellman-Ford
    with early convergence): exact minimal path costs from every
    landmark over ``edges(src, dst, w)`` with non-negative int64
    weights — the weighted companion to ``bfs_levels`` (landmark
    distances are the standard building block for graph sketches and
    routing features at web scale).

    Per round: one relax join (frontier x edges) + one min-combine
    aggregation keyed (landmark, node) — both map-side combinable;
    int64 costs make the min exact, so the fixed point is
    parallelism-independent.  Rounds run until NO distance improved (a
    one-scalar driver check per round, same bounded-collect pattern as
    operators/cc.py) or ``max_iterations`` — whichever first; with
    non-negative weights the fixed point is the true shortest-path
    distance once the round count reaches the graph's hop diameter.

    Only IMPROVED rows join the next relax round (delta frontier), so
    late rounds touch the still-settling fringe, not the whole graph.

    Returns ``(landmark, node, dist)`` for every reached node.
    """
    edges = pin(edges.select("src", "dst", F.col("w").cast("long").alias("w")))
    state = landmarks.select(
        F.col(landmarks.columns[0]).alias("landmark")
    ).select("landmark", F.col("landmark").alias("node"), F.lit(0).cast("long").alias("dist"))
    state = pin(state)
    frontier = state
    converged = False
    for _ in range(max_iterations):
        relaxed = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(
                "landmark",
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("landmark", "node")
            .agg(F.min("dist").alias("dist"))
        )
        # improved = strictly better than (or absent from) current state
        joined = relaxed.alias("r").join(
            state.alias("s"),
            (F.col("r.landmark") == F.col("s.landmark"))
            & (F.col("r.node") == F.col("s.node")),
            "left",
        )
        improved = pin(
            joined.where(
                F.col("s.dist").isNull() | (F.col("r.dist") < F.col("s.dist"))
            ).select(
                F.col("r.landmark").alias("landmark"),
                F.col("r.node").alias("node"),
                F.col("r.dist").alias("dist"),
            )
        )
        if improved.limit(1).count() == 0:
            converged = True
            break
        new_state = (
            state.unionByName(improved)
            .groupBy("landmark", "node")
            .agg(F.min("dist").alias("dist"))
        )
        state = pin(new_state.localCheckpoint(eager=False))
        frontier = improved
    if not converged:
        # the final round still improved distances, so the returned
        # costs are UPPER BOUNDS, not the fixed point — surface it
        # instead of silently handing back overestimates
        import warnings

        warnings.warn(
            f"shortest_paths: distances still improving after "
            f"{max_iterations} iterations; returned costs are upper "
            f"bounds — raise max_iterations for graphs with hop "
            f"diameter > {max_iterations}",
            RuntimeWarning,
            stacklevel=2,
        )
    return state
