"""Star-schema builder: raw article documents → fact + dims + bridges.

Re-expresses the reference's core ETL (``DB/ETL.ipynb`` cells 23-45, raw
1040-1324): dims ``publishers/topics/dates/keywords/authors``, fact
``articles``, bridges ``author_article_map``/``keyword_article_map``.

Quirk policy (SURVEY §2.9) — defaults FIX, ``parity=True`` reproduces:

- Q1 (non-deterministic ``monotonically_increasing_id`` keys): fixed
  unconditionally — surrogate keys are ``xxhash64`` of the natural key,
  stable under repartitioning and re-runs (a nondeterministic ID cannot
  be reproduced even in parity mode; only *cardinalities* are parity-
  comparable, which the golden test checks).
- Q2 (authors ``distinct()`` after unique-ID assignment = no-op): fixed
  by deduplicating on the full identity (FullName, Country, University)
  BEFORE keying; ``parity=True`` keeps every exploded row.
- Q3 (bridge joins on FullName only → fan-out): fixed by joining the
  bridge on the full identity; ``parity=True`` joins on FullName.
- Q4 (keywords never deduplicated): fixed with ``distinct()`` before
  keying; ``parity=True`` keeps duplicates.
- Q7 (topics/dates built from the *uncleaned* frame while everything
  else uses the cleaned one): the builders take an explicit source
  DataFrame so the caller chooses; :func:`build_star` wires the cleaned
  frame by default and the raw frame under ``parity=True``.

Scale notes (100 TB): dims are distinct-projections (one partial-agg
shuffle each, output tiny); in fixed mode the fact broadcasts only the
dates dim (J1) and the bridges key their exploded rows with no join at
all; parity mode broadcasts every dim it joins. ``xxhash64`` keys need
no global coordination (vs ``row_number``, which would serialize through
one task), and any stage can recompute a key from its natural key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scraping_etl_spark.operators import cleaning as C

#: Identity columns of the authors dim (DB/Tables/authors.csv header).
AUTHOR_IDENTITY = ("FullName", "Country", "University")


def surrogate_key(*cols: str | Column) -> Column:
    """Deterministic surrogate key (SURVEY A3, fixing Q1): ``xxhash64``
    of the natural key — partition-independent, rerun-stable, collision
    probability ~n²/2⁶⁵ (negligible below ~10⁹ distinct keys)."""
    return F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols])


# ---------------------------------------------------------------------------
# Cleaning pass (ETL cells 13-26) — composition of operators/cleaning.py
# ---------------------------------------------------------------------------

def clean_documents(raw: DataFrame, parity: bool = False) -> DataFrame:
    """The reference's full cleaning chain in order (ETL cells 13-26):
    publisher sentinels → date sentinels → citations dropna → empty-array
    filters → drop Downloads/_id if present → country canonicalization →
    email filters → string scrub."""
    df = C.filter_publisher_sentinels(raw)
    df = C.filter_date_sentinels(df, parity=parity)
    df = C.drop_null_citations(df)
    df = C.filter_empty_arrays(df, ("authors_with_affiliations", "authors"))
    for junk in ("Downloads", "_id"):
        if junk in df.columns:
            df = df.drop(junk)
    df = C.canonicalize_countries(df)
    df = C.canonicalize_affiliation_countries(df)
    df = C.filter_email_countries(df, parity=parity)
    df = C.filter_email_affiliations(df)
    return C.scrub_string_columns(df)


# ---------------------------------------------------------------------------
# Dimensions
# ---------------------------------------------------------------------------

def build_publishers(clean: DataFrame, dedup_issn: bool = True) -> DataFrame:
    """Publishers dim (ETL cell 31, raw 1040-1044): nested projection +
    distinct, as in parity mode. The reference keys articles→publishers on ISSN while the
    dim is distinct on all three columns, so one ISSN with two observed
    (Name, Quartile) pairs fans the fact join out; ``dedup_issn`` keeps
    one deterministic row per ISSN (min Name, then min Quartile, NULLs
    first) with a single aggregation, i.e. one shuffle."""
    dim = clean.select(
        F.col("publisher.ISSN").alias("ISSN"),
        F.col("publisher.name").alias("Name"),
        F.col("publisher.Quartile").alias("Quartile"),
    )
    if not dedup_issn:
        return dim.distinct()
    return dim.groupBy("ISSN").agg(
        F.min(F.struct("Name", "Quartile")).alias("p")
    ).select("ISSN", "p.Name", "p.Quartile")


def build_topics(source: DataFrame) -> DataFrame:
    """Topics dim (ETL cell 35, raw 1137-1140). Pass the cleaned frame
    for fixed semantics or the raw frame for Q7 parity."""
    return (
        source.select(F.col("topic").alias("Topic"))
        .distinct()
        .withColumn("TopicID", surrogate_key("Topic"))
        .select("TopicID", "Topic")
    )


def build_dates(source: DataFrame) -> DataFrame:
    """Dates dim (ETL cell 37, raw 1194-1200): distinct on the four raw
    date columns, plus a proper ``DateType`` derived via
    ``to_date(_, 'd MMMM yyyy')`` (SURVEY F3) — the reference carries
    only the pre-split string parts; the typed column is additive."""
    return (
        source.select(
            F.col("Date").alias("PublicationDate"),
            F.col("Day"),
            F.col("Month"),
            F.col("Year"),
        )
        .distinct()
        .withColumn("DateID", surrogate_key("PublicationDate", "Day", "Month", "Year"))
        .withColumn("DateValue", F.try_to_date("PublicationDate", "d MMMM yyyy"))
        .select("DateID", "PublicationDate", "Day", "Month", "Year", "DateValue")
    )


def build_keywords(clean: DataFrame, dedup: bool = True) -> DataFrame:
    """Keywords dim (ETL cell 33, raw 1095-1098): explode (the
    reference's one UDTF-shaped op, SURVEY §2.8) → key. ``dedup=True``
    fixes Q4 (reference ships 27,317 rows for 7,337 distinct strings);
    parity keeps every exploded row with a per-occurrence key."""
    exploded = clean.select(
        F.col("doi"), F.posexplode("keywords").alias("pos", "Keyword")
    )
    if dedup:
        return (
            exploded.select("Keyword")
            .distinct()
            .withColumn("KeywordID", surrogate_key("Keyword"))
            .select("KeywordID", "Keyword")
        )
    return exploded.withColumn(
        "KeywordID", surrogate_key("doi", "pos", "Keyword")
    ).select("KeywordID", "Keyword")


def build_authors(clean: DataFrame, dedup: bool = True) -> DataFrame:
    """Authors dim (ETL cell 39, raw 1221-1231): explode affiliations →
    project identity → key. ``dedup=True`` fixes Q2 (the reference's
    ``distinct()`` runs after unique-ID assignment and is a no-op; it
    ships 19,967 rows for 17,696 distinct identities)."""
    exploded = clean.select(
        F.col("doi"),
        F.posexplode("authors_with_affiliations").alias("pos", "aff"),
    ).select(
        "doi",
        "pos",
        F.col("aff.author").alias("FullName"),
        F.col("aff.country").alias("Country"),
        F.col("aff.university").alias("University"),
    )
    if dedup:
        return (
            exploded.select(*AUTHOR_IDENTITY)
            .distinct()
            .withColumn("AuthorID", surrogate_key(*AUTHOR_IDENTITY))
            .select("AuthorID", *AUTHOR_IDENTITY)
        )
    return exploded.withColumn(
        "AuthorID", surrogate_key("doi", "pos", *AUTHOR_IDENTITY)
    ).select("AuthorID", *AUTHOR_IDENTITY)


# ---------------------------------------------------------------------------
# Fact + bridges
# ---------------------------------------------------------------------------

def build_articles(
    clean: DataFrame,
    dates: DataFrame,
    topics: DataFrame | None = None,
    publishers: DataFrame | None = None,
) -> DataFrame:
    """Articles fact (ETL cell 41, raw 1247-1266; SURVEY J1). ``DateID``
    comes from a broadcast left join to the dates dim, because one
    ``PublicationDate`` can map to several (Day, Month, Year) rows.

    ``TopicID`` is ``surrogate_key(Topic)`` computed on the fact row
    (NULL for a NULL topic, as the left join gives) unless ``topics`` is
    passed: parity mode joins its dim, which is built from the unscrubbed
    raw frame, so a topic the scrub changed finds no match there.
    ``publishers`` is joined only when passed: parity mode's dim is not
    one row per ISSN and fans the fact out on purpose. The fixed dim
    (``dedup_issn``) is, and the join selects no column, so skipping it
    changes nothing."""
    fact = clean.select(
        F.col("doi").alias("DOI"),
        F.col("title").alias("Title"),
        F.col("abstract").alias("Abstract"),
        F.col("citations").alias("Citations"),
        F.col("publisher.ISSN").alias("ISSN"),
        F.col("Date").alias("PublicationDate"),
        F.col("website").alias("Website"),
        F.col("topic").alias("Topic"),
    )
    if topics is None:
        fact = fact.withColumn(
            "TopicID", F.when(F.col("Topic").isNotNull(), surrogate_key("Topic"))
        )
    else:
        fact = fact.join(F.broadcast(topics), "Topic", "left")
    fact = fact.join(
        F.broadcast(dates.select("DateID", "PublicationDate")),
        "PublicationDate",
        "left",
    )
    if publishers is not None:
        fact = fact.join(F.broadcast(publishers), "ISSN", "left")
    return fact.select(
        "DOI", "Title", "Abstract", "Citations", "ISSN",
        "DateID", "Website", "TopicID",
    )


def build_author_article_map(
    clean: DataFrame, authors: DataFrame | None = None, on_identity: bool = True
) -> DataFrame:
    """Author bridge (ETL cell 43, raw 1287-1299; SURVEY J2): explode
    the affiliations, then key each row.

    Without ``authors``, ``AuthorID`` is ``surrogate_key`` of the
    (FullName, Country, University) identity, computed on the exploded
    rows whose identity columns are all non-null: the same rows and keys
    as an inner equi-join to the deduplicated dim (:func:`build_authors`,
    ``dedup=True``). With ``authors``, the rows inner-join the dim (dim
    side broadcast): on the full identity, or with ``on_identity=False``
    on FullName only, reproducing quirk Q3 (the reference ships 42,595
    bridge rows for 3,502 DOIs because of the fan-out)."""
    exploded = clean.select(
        F.col("doi").alias("DOI"),
        F.explode("authors_with_affiliations").alias("aff"),
    ).select(
        "DOI",
        F.col("aff.author").alias("FullName"),
        F.col("aff.country").alias("Country"),
        F.col("aff.university").alias("University"),
    )
    if authors is None:
        return exploded.dropna(subset=list(AUTHOR_IDENTITY)).select(
            "DOI", surrogate_key(*AUTHOR_IDENTITY).alias("AuthorID")
        )
    keys = list(AUTHOR_IDENTITY) if on_identity else ["FullName"]
    return exploded.join(F.broadcast(authors), keys, "inner").select(
        "DOI", "AuthorID"
    )


def build_keyword_article_map(
    clean: DataFrame, keywords: DataFrame | None = None
) -> DataFrame:
    """Keyword bridge (ETL cell 45, raw 1317-1324; SURVEY J3): explode,
    then key each row. Without ``keywords``, ``KeywordID`` is
    ``surrogate_key(Keyword)`` on the non-null exploded keywords: the
    same rows and keys as an inner join to the deduplicated dim. With
    ``keywords``, the rows inner-join the dim on the keyword string (dim
    side broadcast), as parity mode's per-occurrence dim requires."""
    exploded = clean.select(
        F.col("doi").alias("DOI"), F.explode("keywords").alias("Keyword")
    )
    if keywords is None:
        return exploded.dropna(subset=["Keyword"]).select(
            "DOI", surrogate_key("Keyword").alias("KeywordID")
        )
    return exploded.join(F.broadcast(keywords), "Keyword", "inner").select(
        "DOI", "KeywordID"
    )


def build_star(raw: DataFrame, parity: bool = False) -> dict[str, DataFrame]:
    """Full pipeline: clean + all eight output tables.

    ``parity=False`` (default): fixed semantics (Q2/Q3/Q4/Q5/Q7 repaired,
    deterministic keys). ``parity=True``: the reference's row-for-row
    cardinality behavior on the same input — dims keyed per occurrence,
    bridges joined on FullName, topics/dates from the uncleaned frame,
    date filter via subtract, dead email filter.

    The cleaned frame is always materialized, once: it is a lazy
    ``localCheckpoint``, so the first action on any output fills it and
    every other output reads its blocks instead of re-running the scan,
    the enrichment and the cleaning chain. Its blocks live as long as the
    returned DataFrames. Planning the checkpoint makes AQE run the
    cleaned lineage's shuffle stages here, at build time; only its final
    stage waits for the first action. A caller that reads several outputs
    in concurrent jobs should fill it first with one action: a task that
    computes it after another job has finished the checkpoint reports SQL
    metrics whose plan may already be collected, and Spark logs each one
    as an ERROR (the data is unaffected).

    Keys: every dim key is ``surrogate_key`` of its natural key. In fixed
    mode the fact's ``TopicID`` and both bridges' keys are computed from
    the natural key on the row, and the fact's publishers join, a no-op
    once ``dedup_issn`` leaves one row per ISSN, is skipped; only
    ``DateID`` is joined. Parity mode joins all three fact dims and both
    bridge dims, whose keys or cardinalities differ from the computed
    form there.
    """
    clean = clean_documents(raw, parity=parity).localCheckpoint(eager=False)
    dim_source = raw if parity else clean
    publishers = build_publishers(clean, dedup_issn=not parity)
    topics = build_topics(dim_source)
    dates = build_dates(dim_source)
    keywords = build_keywords(clean, dedup=not parity)
    authors = build_authors(clean, dedup=not parity)
    if parity:
        articles = build_articles(clean, dates, topics, publishers)
        author_map = build_author_article_map(clean, authors, on_identity=False)
        keyword_map = build_keyword_article_map(clean, keywords)
    else:
        articles = build_articles(clean, dates)
        author_map = build_author_article_map(clean)
        keyword_map = build_keyword_article_map(clean)
    return {
        "clean": clean,
        "publishers": publishers,
        "topics": topics,
        "dates": dates,
        "keywords": keywords,
        "authors": authors,
        "articles": articles,
        "author_article_map": author_map,
        "keyword_article_map": keyword_map,
    }


#: Partitioning spec (SURVEY §4 physical notes / §7.7): the fact
#: partitions on the columns every analysis query filters by, so
#: partition pruning engages at 100 TB; dims/bridges are small or
#: key-uniform and stay unpartitioned.
FACT_PARTITION_COLS = ("Website", "TopicID")


def materialize_star(
    star: dict[str, DataFrame], out_dir: str, fmt: str = "parquet"
) -> dict[str, str]:
    """Write every star table under ``out_dir/<name>`` — the engine's
    twin of the reference's driver-side ``toPandas`` + ``to_csv`` export
    (DB/ETL.ipynb cells 50-54), kept fully distributed.

    The fact writes partitioned by :data:`FACT_PARTITION_COLS`
    (partition pruning for per-site / per-topic queries); everything
    else writes plain. Returns name → path."""
    paths: dict[str, str] = {}
    for name, df in star.items():
        if name == "clean":
            continue  # intermediate, not an output table
        path = f"{out_dir.rstrip('/')}/{name}"
        writer = df.write.mode("overwrite").format(fmt)
        if name == "articles":
            writer = writer.partitionBy(*FACT_PARTITION_COLS)
        writer.save(path)
        paths[name] = path
    return paths
