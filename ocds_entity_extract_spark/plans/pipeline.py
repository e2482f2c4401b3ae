"""End-to-end KG-construction plan: pages -> triples.

Stage graph (≙ reference lifecycle, SURVEY.md §3.4/§3.5):

  pages(url, warc_ts, html, text, lang)
    └─ extract_text (Arrow pandas UDF) + mention/membership span
       regexes — ONE fused scan; small span table cached    [stage 1+2]
    └─ surface dim: distinct surfaces -> normalize+classify ONCE
       (broadcast override join + codegen rules on the dim), then a
       broadcast probe resolves each mention occurrence      [stage 3]
    └─ merge_entities (shuffle on entity_id)               [stage 4]
    └─ linking: MinHash-LSH + verify (self-join on bands)  [stage 5]
    └─ connected components (size-adaptive: union-find     [stage 6]
       under 1M edges, alternating-star joins above)
    └─ triple assembly (unions, distinct)                  [stage 7]

Only stages 4-6 shuffle. The cached intermediates are all far smaller than
pages: `spans` (feeds the mention, membership and contact branches —
without it the pandas-UDF extraction would run once per consumer), the
surface `dim`, and the canonical `mapping`. The O(mentions) stream itself
is deliberately NOT cached — each consumer rebuilds it with a narrow
explode + broadcast probe over the cached spans (see the note at the
mentions binding below). At cluster scale swap cache() for
persist(DISK_ONLY) or a materialized intermediate table.

Emitted predicates (≙ the reference's six entity kinds + membership edges,
reference extract.js:1102-1218 / SURVEY.md §1.3):
  (url,       'mentions', canonical_entity)
  (canonical, 'type',     person|company|institution)
  (alias,     'sameAs',   canonical)                — linking output
  (member,    'memberOf', org)                      — membership sentences
  (inst,      'inArea',   state)                    — region inferred from
  (state,     'partOf',   country)                    place-suffixed names
                                                      (≙ extract.js:897-982
                                                      area array + edges)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocds_entity_extract_spark.functions.classify import with_entity_type
from ocds_entity_extract_spark.operators.cc import canonical_mapping
from ocds_entity_extract_spark.operators.linking import verified_edges
from ocds_entity_extract_spark.operators.mentions import (
    contacts_from_spans,
    detect_spans_fused,
    memberships_from_spans,
    mentions_via_dim,
    surface_dim,
)
from ocds_entity_extract_spark.operators.merge import (
    merge_entities,
    rank_type,
    type_rank,
)
from ocds_entity_extract_spark.session import local_frame


@dataclass
class PipelineResult:
    triples: DataFrame
    entities: DataFrame
    mentions: DataFrame
    mapping: DataFrame          # entity_id -> canonical_id
    sameas_edges: DataFrame
    member_edges: DataFrame     # (url, member_canon, role, org_canon, is_purchase)
    area_nodes: DataFrame       # deduped area node table
    inst_regions: DataFrame     # (entity_id=canonical, region, gov_level, ...)
    contact_edges: DataFrame    # (canonical_id, contact_type, contact_value)
    products: DataFrame         # product docs (A12-A15, plans/products.py)
    contact_persons: DataFrame | None = None  # NEW person entities derived
    # from person-named contact emails (≙ contactPoint person,
    # extract.js:372-390) — entity-table-shaped rows for slugs NOT already
    # in the mapping; their 'funcionario' memberships ride member_edges


def build_triples(
    spark: SparkSession,
    pages: DataFrame,
    classifier_override: DataFrame | None = None,
    salted_merge: bool = False,
    cache_intermediates: bool = True,
    max_broadcast_surfaces: int = 2_000_000,
    surface_broadcast: str = "auto",   # auto | force | aqe
    emit_areas: bool = True,
    max_driver_linking: int = 100_000,
    cc_small_graph_threshold: int = 1_000_000,
    linking_hash_family: str = "portable",
    emit_contact_persons: bool | None = None,
) -> PipelineResult:
    """Run the full plan; all returned DataFrames are lazy except cached
    intermediates.

    `linking_hash_family`: per-shingle hash family for MinHash-LSH linking —
    "portable" (md5-derived, DuckDB-twin-able; the oracle-gated default) or
    "fast" (xxhash64, ~5x cheaper per shingle — the production family the
    scaling evidence runs; see operators/linking.verified_edges). Both
    families clear the golden P/R gate and emit identical triples on the
    test corpora (pytest-gated).

    `emit_contact_persons`: the contactPoint-person branch (≙ reference
    extract.js:372-390). None (default) = size-adaptive auto: one cheap
    columnar pass over the cached spans table checks whether any
    person-named contact email exists at all, and the branch's ~4 tiny
    stages are skipped entirely on corpora without them (most crawl slices;
    keeps the measured scaling window free of empty-stage latency).
    True/False force it on/off."""
    # ONE pass over pages computes all three span arrays inside the Python
    # worker (html -> text -> spans; the text never crosses Arrow back to
    # the JVM — see detect_spans_fused). The small span table is cached so
    # the mention and membership branches never re-run the extraction.
    spans = detect_spans_fused(pages)
    if cache_intermediates:
        spans = spans.cache()

    # dictionary-encoded normalization + classification: the 4-regex slug
    # pipeline and the §2.9 classifier run ONCE per DISTINCT surface (Zipf:
    # orders of magnitude fewer than mentions), then a broadcast probe
    # resolves each mention occurrence. The broadcast hint is
    # SIZE-ADAPTIVE: the cached dim is counted (cheap — it materializes a
    # cache every later stage reuses) and the hint applies only under
    # `max_broadcast_surfaces`; above it (or uncached) the join is left to
    # AQE's runtime-size decision so a 10^9-surface crawl can never OOM on
    # a forced broadcast.
    from ocds_entity_extract_spark.operators.mentions import surface_dim_batched

    dim = with_entity_type(surface_dim_batched(spans), classifier_override)
    dim_count = None
    # the dim is cached in EVERY mode (it has 4+ consumers: the mention
    # probe, linking ids, the type-rank agg, and the assembly join —
    # uncached, each would re-run the corpus-sized surface distinct); only
    # the COUNT is mode-dependent, because counting is what unlocks the
    # size-adaptive driver fast path that "aqe" exists to bypass
    if cache_intermediates:
        dim = dim.cache()
    if surface_broadcast == "force":
        use_broadcast = True
    elif surface_broadcast == "aqe":
        use_broadcast = False
    elif cache_intermediates:
        dim_count = dim.count()
        use_broadcast = dim_count <= max_broadcast_surfaces
    else:
        use_broadcast = False
    # NOTE: the mention stream is deliberately NOT cached. It is the one
    # corpus-sized intermediate (O(mentions) rows), and every consumer can
    # rebuild it with a narrow explode + broadcast probe over the CACHED
    # spans table — recomputing that is cheaper than serializing ~the
    # corpus into executor storage and reading it back (phase-split
    # measurement at 4M pages showed the post-extraction phase shuffle/
    # cache-bound and inversely scaling 8->32 cores; the mention-stream
    # cache write was the largest single memory-traffic term). At cluster
    # scale the same argument says "rebuild from the spans table" beats
    # "persist the mention stream".
    mentions = mentions_via_dim(spans, dim, broadcast=use_broadcast)

    if salted_merge:
        from ocds_entity_extract_spark.operators.merge import merge_entities_salted

        entities = merge_entities_salted(mentions)
    else:
        entities = merge_entities(mentions)

    # the DISTINCT entity-id universe is exactly the dim's id column
    # (mentions_via_dim is an inner join on surface), so linking and CC
    # read the tiny cached dim instead of re-deduplicating the full
    # mention stream — two full corpus passes saved (measured: the
    # mention-stream distinct was the CC stage's dominant cost and scaled
    # inversely past 8 cores on one memory bus).
    # linking + CC are SIZE-ADAPTIVE like the broadcast decision: under
    # `max_driver_linking` distinct ids (known from the dim count — a
    # surface count, an upper bound on ids) the whole LSH-block-verify +
    # union-find chain runs driver-side on the collected id list (exact
    # Python twin, parity-tested) — the distributed version of this stage
    # is ~15 sub-second shuffles whose scheduling latency dominates any
    # sub-web-scale corpus. Above the threshold: the distributed path.
    ids = dim.select("entity_id")
    surf2canon = None
    dim_pdf = None
    if dim_count is not None and dim_count <= max_driver_linking:
        from ocds_entity_extract_spark.operators.linking import (
            linking_canon_dict,
        )

        # ONE bounded collect serves linking, the zero-shuffle assembly
        # AND the driver-side small branches below: (surface, entity_id,
        # entity_type) rows give the slug universe for union-find, the
        # surface->canonical dict, and the per-surface type ranks
        # (<= dim_count entries — the same driver budget as the broadcast
        # join). Collected via Arrow (toPandas): ~40 bytes/row of columnar
        # buffers instead of a Python Row object per row — an order of
        # magnitude less driver allocation at the threshold sizes.
        dim_pdf = dim.select("surface", "entity_id", "entity_type").toPandas()
        canon = linking_canon_dict(
            sorted(set(dim_pdf["entity_id"])), hash_family=linking_hash_family
        )
        surf2canon = {
            s: canon[e]
            for s, e in zip(dim_pdf["surface"], dim_pdf["entity_id"])
        }
        mapping_plain = local_frame(
            spark, sorted(canon.items()), "entity_id string, canonical_id string"
        )
        # bounded by max_driver_linking rows -> always broadcastable: the
        # hint turns every downstream mapping JOIN (canon mentions, type
        # rank, membership x2, contacts) into a map-side probe instead of
        # a shuffle of the corpus-sized mention stream. Non-join consumers
        # (the sameAs filter below) read the UNHINTED frame so the hint
        # never dangles on a non-join relation.
        mapping = F.broadcast(mapping_plain)
    else:
        edges = verified_edges(ids, hash_family=linking_hash_family)
        mapping_plain = canonical_mapping(
            ids, edges, small_graph_threshold=cc_small_graph_threshold
        )
        # CC has eagerly checkpointed the edge set, so nothing reads the
        # cached signature table behind `edges` any more
        for dep in edges._cached_deps:
            dep.unpersist()
        if cache_intermediates:
            mapping_plain = mapping_plain.cache()
        # DISTRIBUTED linking + DICT assembly: the two thresholds are
        # orthogonal. `max_driver_linking` picks the linking ALGORITHM
        # (driver union-find vs distributed LSH + star CC); whether the
        # ASSEMBLY can use the zero-shuffle Arrow dict pass depends only on
        # the surf->canon dict fitting the same budget that already
        # justified broadcasting the dim (`max_broadcast_surfaces`). On a
        # real cluster this is exactly the right call at 100 TB: the
        # surface dim is Zipf-bounded (~10^8-10^9 surfaces even for a
        # trillion pages), so broadcasting a canonical dict is routine,
        # while the alternative — the join + corpus-sized (url, canon)
        # distinct — shuffles ~the whole mention stream. Measured on the
        # 4M-page scaling corpus (110k surfaces, just past the linking
        # threshold): the join+distinct assembly added ~50 s of
        # memory-bus-bound exchange that does not parallelize on one box.
        # Only a dim too big to collect (true 10^9-surface crawls, or
        # surface_broadcast='aqe' which skips the count) takes the
        # join+distinct path below. Both collects go through Arrow
        # (toPandas) — columnar buffers, not 2M Python Row objects.
        if dim_count is not None and dim_count <= max_broadcast_surfaces:
            _mp = mapping_plain.toPandas()
            canon = dict(zip(_mp["entity_id"], _mp["canonical_id"]))
            dim_pdf = dim.select(
                "surface", "entity_id", "entity_type"
            ).toPandas()
            surf2canon = {
                s: canon[e]
                for s, e in zip(dim_pdf["surface"], dim_pdf["entity_id"])
            }
            mapping = F.broadcast(mapping_plain)
        else:
            mapping = mapping_plain

    # --- triple assembly (canonical ids everywhere) ---
    # Dedup at the NARROWEST point first: duplicate (url, entity) pairs are
    # overwhelmingly repeats of the SAME surface on one page, so
    # array_distinct on the span array (partition-local, pre-explode)
    # removes them before they cost a probe row or shuffle bytes —
    # measured 3.5s -> 0.9s for the probe+dedup chain at 2M pages. The
    # global .distinct() stays (still required for two DIFFERENT surfaces
    # of one canonical entity on one page) but now receives near-unique
    # input. distinct BEFORE adding the constant pred column: the dedup
    # shuffle (the pipeline's one corpus-sized exchange) carries two
    # narrow columns, not a per-row literal.
    if surf2canon is not None:
        # zero-shuffle fast path (size-adaptive, same threshold as
        # driver-side linking): the surface->canonical dict rides a
        # SparkContext broadcast into one pandas pass over the cached
        # spans table, which dedups canonical ids WITHIN each page —
        # globally complete because spans is url-unique — so neither the
        # dim/mapping joins nor the corpus-sized distinct exchange run at
        # all. Parity with the join path below is pytest-gated
        # (test_build_triples_driver_vs_distributed_linking).
        from ocds_entity_extract_spark.operators.mentions import (
            canon_mention_rows,
        )

        bc = spark.sparkContext.broadcast(surf2canon)
        canon_mentions = canon_mention_rows(spans, bc).select(
            "subj", F.lit("mentions").alias("pred"), "obj"
        )
    else:
        canon_mention_occ = spans.select(
            "url", F.explode(F.array_distinct("mention_spans")).alias("surface")
        ).join(
            F.broadcast(dim.select("surface", "entity_id"))
            if use_broadcast
            else dim.select("surface", "entity_id"),
            "surface",
        )
        canon_mentions = (
            canon_mention_occ.join(mapping, "entity_id")
            .select("url", "canonical_id")
            .distinct()
            .select(
                F.col("url").alias("subj"),
                F.lit("mentions").alias("pred"),
                F.col("canonical_id").alias("obj"),
            )
        )

    # component-level type: max precedence across ALL mentions of the
    # component (order-independent A16 fixpoint, reference extract.js:310-318).
    # entity_type is a function of the SURFACE and every dim surface occurs
    # in >= 1 mention, so the dim-level max equals the mention-level max —
    # computed over the tiny dim, not the mention stream.
    _addr_schema = (
        "entity_id string, country_name string, region string,"
        " locality string, gov_level string"
    )
    _nodes_schema = (
        "area_id string, name string, classification string, parent_id string"
    )
    _triple_schema = "subj string, pred string, obj string"
    if surf2canon is not None:
        # driver-side small branches: the dim rows, canonical dict and the
        # (static) geo dims are all already on the driver, so the
        # type/sameAs/area triples — a few thousand rows at most under
        # `max_driver_linking` — are computed in plain Python and shipped
        # back as JVM local tables (`local_frame`), which no Python worker
        # ever scans. The Spark branch below runs these as
        # ~10 broadcast-join/agg stages whose scheduling latency is pure
        # fixed cost at ANY corpus size (measured ~5-6s per run regardless
        # of core count — the single biggest non-scaling term in the
        # 2->8-core evidence). Parity with the Spark branch is gated by
        # test_build_triples_driver_vs_distributed_linking.
        _rank = {"institution": 3, "company": 2}
        _type = {3: "institution", 2: "company", 1: "person"}
        rank_by_canon: dict[str, int] = {}
        for e, t in zip(dim_pdf["entity_id"], dim_pdf["entity_type"]):
            cid = canon[e]
            rk = _rank.get(t, 1)
            if rk > rank_by_canon.get(cid, 0):
                rank_by_canon[cid] = rk
        type_rows = sorted(
            (cid, "type", _type[rk]) for cid, rk in rank_by_canon.items()
        )
        sameas_rows = sorted(
            (s, "sameAs", c) for s, c in canon.items() if s != c
        )
        if emit_areas:
            from ocds_entity_extract_spark.plans.areas import area_branch_py

            inst_pairs = sorted(
                (c, s)
                for s, c in canon.items()
                if rank_by_canon.get(c) == 3
            )
            addr_rows, node_rows, area_rows = area_branch_py(inst_pairs)
        else:
            addr_rows, node_rows, area_rows = [], [], []
        addrs = local_frame(spark, addr_rows, _addr_schema)
        areas_tbl = local_frame(spark, node_rows, _nodes_schema)
        small_triples = local_frame(
            spark, type_rows + sameas_rows + area_rows, _triple_schema
        )
        sameas = local_frame(spark, sameas_rows, _triple_schema)
    else:
        canon_rank = (
            dim.select("entity_id", type_rank("entity_type").alias("_rank"))
            .join(mapping, "entity_id")
            .groupBy("canonical_id")
            .agg(F.max("_rank").alias("_rank"))
        )
        if cache_intermediates:
            # two consumers (type triples + institution filter for areas);
            # localCheckpoint materializes once, blocks GC-released with
            # the job
            canon_rank = canon_rank.localCheckpoint(eager=False)
        canon_types = canon_rank.select(
            F.col("canonical_id").alias("subj"),
            F.lit("type").alias("pred"),
            rank_type(F.col("_rank")).alias("obj"),
        )

        # area machinery (≙ reference extract.js:785-829, 897-982):
        # institution components -> region inferred from place-suffixed
        # alias slugs -> (inst, inArea, state) + (state, partOf, country)
        # triples + area nodes
        from ocds_entity_extract_spark.plans.areas import (
            area_edges,
            area_nodes,
            infer_institution_regions,
        )

        if emit_areas:
            inst_aliases = mapping.join(
                canon_rank.filter(F.col("_rank") == 3).select("canonical_id"),
                "canonical_id",
            ).select("canonical_id", F.col("entity_id").alias("alias_slug"))
            addrs = infer_institution_regions(inst_aliases, spark)
            area_triples = area_edges(addrs, spark).select("subj", "pred", "obj")
            areas_tbl = area_nodes(addrs, spark)
        else:
            addrs = local_frame(spark, [], _addr_schema)
            area_triples = local_frame(spark, [], _triple_schema)
            areas_tbl = local_frame(spark, [], _nodes_schema)

        sameas = (
            mapping_plain.filter(F.col("entity_id") != F.col("canonical_id"))
            .select(
                F.col("entity_id").alias("subj"),
                F.lit("sameAs").alias("pred"),
                F.col("canonical_id").alias("obj"),
            )
            .distinct()
        )
        small_triples = None

    # canonicalized membership edges — shared by the memberOf triples AND
    # the entity-document richness (per-role counters, parent_id)
    if surf2canon is not None:
        # zero-shuffle twin: one pandas pass re-parses each member span and
        # dict-probes both endpoint slugs against the broadcast canonical
        # mapping — replaces 3 JVM regexp_extract passes + 2 slug regexes
        # per span + two joins. Parity pytest-gated alongside the mention
        # fast path.
        from ocds_entity_extract_spark.operators.mentions import (
            member_edge_rows,
        )

        slug_bc = spark.sparkContext.broadcast(canon)
        member_edges = member_edge_rows(spans, slug_bc)
    else:
        memberships = memberships_from_spans(spans)
        member_edges = (
            memberships
            .join(mapping.withColumnRenamed("entity_id", "person_id"), "person_id")
            .withColumnRenamed("canonical_id", "member_canon")
            .join(mapping.withColumnRenamed("entity_id", "org_id"), "org_id")
            .withColumnRenamed("canonical_id", "org_canon")
            .select("url", "member_canon", "role", "org_canon", "is_purchase")
        )
    # --- contactPoint person branch (≙ reference extract.js:372-390:
    # party.contactPoint -> a PERSON entity + a membership to the
    # institution). Webtext analogue: person-named contact emails
    # (firstname.lastname@, operators/mentions.contact_person_candidates)
    # become person entities with 'funcionario' memberships to every
    # institution mentioned on the contact-bearing page. Size-adaptive
    # auto-gate: corpora without person-named emails (most crawl slices,
    # incl. the scaling corpus) skip the branch's ~4 tiny stages entirely
    # after ONE cheap columnar pass over the cached spans table.
    from ocds_entity_extract_spark.operators.mentions import (
        contact_person_candidates,
    )
    from ocds_entity_extract_spark.operators.merge import source_run

    contact_persons = None
    cp_type_triples = None
    cp = contact_person_candidates(spans)
    has_cp = (
        emit_contact_persons
        if emit_contact_persons is not None
        else not cp.isEmpty()
    )
    if has_cp:
        if cache_intermediates:
            cp = cp.cache()
        cp_urls = F.broadcast(cp.select("url").distinct())
        # institutions on the contact-bearing pages only (tiny subset):
        # the semi join broadcasts the contact urls, so no corpus shuffle
        if surf2canon is not None:
            inst_df = local_frame(
                spark,
                [(c,) for c, rk in sorted(rank_by_canon.items()) if rk == 3],
                "org_canon string",
            )
            page_inst = (
                canon_mention_rows(spans.join(cp_urls, "url", "semi"), bc)
                .select(F.col("subj").alias("url"), F.col("obj").alias("org_canon"))
                .join(F.broadcast(inst_df), "org_canon")
            )
        else:
            _sub = spans.join(cp_urls, "url", "semi").select(
                "url", F.explode(F.array_distinct("mention_spans")).alias("surface")
            )
            page_inst = (
                _sub.join(
                    F.broadcast(dim.select("surface", "entity_id"))
                    if use_broadcast
                    else dim.select("surface", "entity_id"),
                    "surface",
                )
                .join(mapping, "entity_id")
                .join(
                    canon_rank.filter(F.col("_rank") == 3).select("canonical_id"),
                    "canonical_id",
                )
                .select("url", F.col("canonical_id").alias("org_canon"))
                .distinct()
            )
        # canonicalize the person slug through the mapping — an email slug
        # that IS an existing entity reuses it (≙ findObjectInCollection,
        # extract.js:374); unknown slugs are NEW persons (≙ createPerson)
        cp_canon = cp.join(
            mapping.withColumnRenamed("entity_id", "person_slug")
            .withColumnRenamed("canonical_id", "_pc"),
            "person_slug",
            "left",
        ).withColumn("member_canon", F.coalesce("_pc", "person_slug"))
        funcionario_edges = (
            cp_canon.join(page_inst, "url")
            .select(
                "url",
                "member_canon",
                F.lit("funcionario").alias("role"),
                "org_canon",
                "is_purchase",
            )
            .distinct()
        )
        member_edges = member_edges.unionByName(funcionario_edges)
        contact_persons = (
            cp_canon.filter(F.col("_pc").isNull())
            .groupBy(F.col("person_slug").alias("entity_id"))
            .agg(
                F.min("person_name").alias("name"),
                F.countDistinct("url").alias("page_count"),
                F.min("warc_ts").alias("first_seen"),
                F.max("warc_ts").alias("last_seen"),
                F.array_sort(F.collect_set("domain")).alias("sources"),
                F.array_sort(F.collect_set(source_run("warc_ts"))).alias(
                    "source_runs"
                ),
            )
            .select(
                "entity_id",
                "name",
                F.lit("person").alias("entity_type"),
                F.array().cast("array<string>").alias("other_names"),
                F.lit(0).cast("long").alias("mention_count"),
                "page_count",
                "first_seen",
                "last_seen",
                "sources",
                "source_runs",
            )
        )
        cp_type_triples = contact_persons.select(
            F.col("entity_id").alias("subj"),
            F.lit("type").alias("pred"),
            F.lit("person").alias("obj"),
        )

    member_triples = member_edges.select(
        F.col("member_canon").alias("subj"),
        F.lit("memberOf").alias("pred"),
        F.col("org_canon").alias("obj"),
    ).distinct()

    # product entity kind (≙ contract-item consumption + createProduct,
    # reference extract.js:40-140): product sentences -> typed item rows ->
    # (url, mentionsProduct, product_id) triples + the per-product document
    # table. The triple branch is ZERO-SHUFFLE: spans is url-unique, so
    # duplicate (url, product_id) pairs can only arise WITHIN one page's
    # span array — array_distinct over the per-page extracted ids is
    # globally complete and the old `.distinct()` exchange (the 0.48-
    # scaling-efficiency stage in the round-4 phase table) disappears
    # entirely. The doc aggregation stays one partial-aggregated groupBy,
    # computed lazily (not part of the triple DAG).
    from ocds_entity_extract_spark.functions.text import cbmei_id_reformat
    from ocds_entity_extract_spark.operators.mentions import PRODUCT_RE
    from ocds_entity_extract_spark.plans.products import (
        product_docs,
        products_from_spans,
    )

    items = products_from_spans(spans)
    _pids = F.array_distinct(
        F.transform(
            "product_spans",
            lambda s: cbmei_id_reformat(F.regexp_extract(s, PRODUCT_RE, 1)),
        )
    )
    product_triples = (
        spans.filter(F.size("product_spans") > 0)
        .select("url", F.explode(_pids).alias("product_id"))
        .filter(F.col("product_id") != "")
        .select(
            F.col("url").alias("subj"),
            F.lit("mentionsProduct").alias("pred"),
            F.col("product_id").alias("obj"),
        )
    )
    products = product_docs(items)

    # contact_details edges (≙ party.contactPoint -> contact_details,
    # reference extract.js:889-891): page-level contacts attributed to the
    # entities mentioned on that page. No broadcast hint: contacts is
    # usually tiny (contact-bearing pages only) and AQE will pick a
    # broadcast join from runtime sizes, but a footer-contact-heavy crawl
    # can make it O(pages) — a forced hint would be the same scale-killer
    # the surface-dim join had in round 1.
    contacts = contacts_from_spans(spans)
    contact_edges = (
        mentions.select("url", "entity_id")
        .join(contacts, "url")
        .join(mapping, "entity_id")
        .select("canonical_id", "contact_type", "contact_value")
        .distinct()
    )

    if small_triples is not None:
        triples = (
            canon_mentions.unionByName(member_triples)
            .unionByName(product_triples)
            .unionByName(small_triples)
        )
    else:
        triples = (
            canon_mentions.unionByName(canon_types)
            .unionByName(sameas)
            .unionByName(member_triples)
            .unionByName(area_triples)
            .unionByName(product_triples)
        )
    if cp_type_triples is not None:
        # type triples for the NEW contact persons (existing slugs already
        # carry a type triple from the dim-derived rank)
        triples = triples.unionByName(cp_type_triples)
    return PipelineResult(
        triples=triples,
        entities=entities,
        mentions=mentions,
        mapping=mapping,
        sameas_edges=sameas,
        member_edges=member_edges,
        area_nodes=areas_tbl,
        inst_regions=addrs,
        contact_edges=contact_edges,
        products=products,
        contact_persons=contact_persons,
    )
