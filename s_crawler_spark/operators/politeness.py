"""Politeness: broadcast host-policy table + per-host wave budgets (SURVEY.md §2.9).

The reference enforces politeness by sleeping between sequential actions
(uniform(20,30)s before each download, src/pdf_processor.py:213-217; 0.3 s
inter-article, src/driver_manager.py:66; 0.5 s inter-page,
src/link_collector.py:77). Sleeping tasks don't scale; the engine turns the
same budget into *wave composition*: a host with crawl_delay d contributes at
most ``wave_seconds / d`` URLs to a wave, so the sequential-politeness
schedule and the wave schedule fetch the same URL set per unit time — which is
what "same politeness budget ⇒ same order" requires (north rule).

``host_policy(host, crawl_delay_ms, robots_disallow, user_agent)`` is a tiny
dimension — always broadcast (J4; reference cookie/UA decoration
src/driver_manager.py:78-89 is the same broadcast pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference-derived default budget: ~25 s politeness delay per download on a
# host (src/pdf_processor.py:215 midpoint), here a per-host crawl delay.
DEFAULT_CRAWL_DELAY_MS = 25_000
DEFAULT_USER_AGENT = "s-crawler-spark/0.1 (+research; reference science_crawler_main.py:29)"
# product token used to select a UA-specific robots.txt group (RFC 9309 §2.2.1)
AGENT_TOKEN = "s-crawler-spark"

HOST_POLICY_SCHEMA = T.StructType([
    T.StructField("host", T.StringType(), False),
    T.StructField("crawl_delay_ms", T.IntegerType(), False),
    T.StructField("robots_disallow", T.ArrayType(T.StringType()), False),
    T.StructField("robots_allow", T.ArrayType(T.StringType()), False),
    T.StructField("user_agent", T.StringType(), False),
])


def default_host_policy(spark: SparkSession, hosts: list[str] | DataFrame,
                        crawl_delay_ms: int = DEFAULT_CRAWL_DELAY_MS) -> DataFrame:
    """Materialize a host_policy table with uniform defaults (robots rules
    and per-host delays would be fetched/parsed in production; the *table
    shape* is the contract)."""
    if isinstance(hosts, DataFrame):
        return hosts.select(
            F.col("host"),
            F.lit(crawl_delay_ms).alias("crawl_delay_ms"),
            F.array().cast("array<string>").alias("robots_disallow"),
            F.array().cast("array<string>").alias("robots_allow"),
            F.lit(DEFAULT_USER_AGENT).alias("user_agent"),
        )
    rows = [(h, crawl_delay_ms, [], [], DEFAULT_USER_AGENT) for h in hosts]
    return spark.createDataFrame(rows, HOST_POLICY_SCHEMA)


def robots_allowed(url_col, disallow_col, allow_col=None):
    """RFC 9309 path-prefix check: allowed unless some Disallow prefix
    matches AND no Allow prefix at least as long also matches (longest-match
    precedence; Allow wins ties) — equivalently ``allow_len >= dis_len``
    (dis_len = 0 makes it trivially true). JVM-side: parse_url + ONE array
    aggregate.

    Single-fold shape (HOF lambdas get no cross-occurrence CSE and their
    bodies re-evaluate per element): Disallow and Allow prefixes are tagged
    and concatenated so one fold computes both longest-match lengths, and
    the url's parsed path rides in the fold's ACCUMULATOR (the init value
    evaluates once per row) instead of being re-parsed per prefix element.
    """
    path = F.coalesce(F.parse_url(url_col, F.lit("PATH")), F.lit("/"))
    if allow_col is None:
        allow_col = F.array().cast("array<string>")
    tagged = F.concat(
        F.transform(disallow_col,
                    lambda p: F.struct(p.alias("p"), F.lit(True).alias("dis"))),
        F.transform(allow_col,
                    lambda p: F.struct(p.alias("p"), F.lit(False).alias("dis"))))
    init = F.struct(path.alias("path"),
                    F.lit(0).alias("dl"), F.lit(0).alias("al"))

    def _step(s, t):
        hit = s["path"].startswith(t["p"])
        plen = F.length(t["p"])
        return F.struct(
            s["path"].alias("path"),
            F.when(t["dis"] & hit & (plen > s["dl"]), plen)
            .otherwise(s["dl"]).alias("dl"),
            F.when(~t["dis"] & hit & (plen > s["al"]), plen)
            .otherwise(s["al"]).alias("al"))

    return F.aggregate(tagged, init, _step, lambda s: s["al"] >= s["dl"])


def compose_wave(pending: DataFrame, host_policy: DataFrame,
                 wave_seconds: int,
                 host_budget: DataFrame | None = None,
                 robots_col: str | None = None) -> DataFrame:
    """Select this wave's fetch set under per-host politeness budgets.

    Per host: admit the first ``floor(wave_seconds*1000 / crawl_delay_ms)``
    eligible rows by (priority, seq) — FIFO within priority, matching the
    reference's id-ordered drain (src/database_manager.py:199). Hosts missing
    from the policy get the default delay. Robots-disallowed rows are dropped.
    An explicit ``host_budget`` table (host, host_budget — e.g. from
    apportion_budget) caps admission at min(allocated, delay-derived)
    per host — capacity allocation tightens politeness, never loosens it;
    hosts absent from it are admitted nowhere this wave.

    ``robots_col`` names a precomputed boolean column on ``pending``
    carrying the robots decision (the crawl loop evaluates it ONCE per URL
    at enqueue and stores it on the frontier row). With it set, the policy
    join carries only (host, crawl_delay_ms) and admission filters on the
    stored bit — the per-wave O(pending) scan does no rule-array
    decoration and no per-row prefix fold. Robots rules are static within
    a crawl (parsed once from the corpus), so the stored bit equals the
    fold's value exactly. Default None = evaluate robots here (the
    standalone / contract-query form).

    Scale notes: the policy join is an explicit broadcast, and admission is
    a TWO-PHASE bounded top-k. A single per-host window would sort ALL of
    the Zipf-head host's eligible rows in one task before the budget filter
    (budget bounds the output, not the sort input — at a 10^10-row frontier
    with a 70%-head host that is a ~10^9-row single-task sort-spill). Phase
    1 ranks within (host, input-partition) — the head host spreads across
    its source partitions — and keeps only rank ≤ host_budget per group, so
    phase 2's authoritative per-host window sorts at most
    ``budget × n_partitions`` rows. Output is unchanged: every row in the
    global first-``budget`` by (priority, seq) has local rank ≤ global rank
    ≤ budget in its own partition, so local pruning is prefix-stable. The
    crawl loop's fetch hops that follow are broadcast semi-joins streaming
    ``pages`` in its own partitioning, so no task inherits a whole host.
    """
    pol = (host_policy if robots_col is None
           else host_policy.select("host", "crawl_delay_ms"))
    joined = pending.join(F.broadcast(pol), on="host", how="left")
    joined = joined.withColumn(
        "crawl_delay_ms",
        # floor at 1 ms: a caller policy with delay 0 ("no delay") must
        # mean an effectively unbounded budget, not an ANSI
        # divide-by-zero that kills the wave job
        F.greatest(F.lit(1), F.coalesce(F.col("crawl_delay_ms"),
                                        F.lit(DEFAULT_CRAWL_DELAY_MS))))
    delay_budget = F.greatest(
        F.lit(1),
        (F.lit(wave_seconds * 1000) / F.col("crawl_delay_ms")).cast("int"))
    if host_budget is None:
        joined = joined.withColumn("host_budget", delay_budget)
    else:
        # capacity apportionment can only TIGHTEN politeness, never loosen
        # it: the admitted count is min(allocated slots, crawl-delay
        # budget) — RFC 9309 Crawl-delay still binds. Hosts absent from
        # the allocation wait for a future wave (budget 0).
        joined = joined.join(F.broadcast(host_budget), on="host", how="left") \
            .withColumn("host_budget",
                        F.least(F.coalesce(F.col("host_budget"), F.lit(0)),
                                delay_budget))
    if robots_col is not None:
        allowed = joined.filter(F.col(robots_col))
        drop_extra = []
    else:
        allowed = joined.filter(
            F.col("robots_disallow").isNull()
            | robots_allowed(F.col("url"), F.col("robots_disallow"),
                             F.coalesce(F.col("robots_allow"),
                                        F.array().cast("array<string>"))))
        drop_extra = ["robots_disallow", "robots_allow", "user_agent"]
    lw = Window.partitionBy("host", "__pid").orderBy("priority", "seq")
    pruned = (allowed.withColumn("__pid", F.spark_partition_id())
              .withColumn("__lrank", F.row_number().over(lw))
              .filter(F.col("__lrank") <= F.col("host_budget"))
              .drop("__pid", "__lrank"))
    w = Window.partitionBy("host").orderBy("priority", "seq")
    return (
        pruned.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= F.col("host_budget"))
        .drop("__rank", "host_budget", "crawl_delay_ms", *drop_extra)
    )


def collapse_rules(rules: DataFrame) -> DataFrame:
    """Collapse the host-dimensioned rules table to ONE row per host
    (rule lists unioned, sorted — longest-prefix-match semantics depend
    only on set membership, so the decision is unchanged and
    deterministic). Rules are static per crawl, so the crawl loop hoists
    this host-dimensioned aggregate out of the per-wave path: compute it
    once (next to rules_fp, lazily checkpointed) and pass the result to
    every ``decorate_robots_ok`` call via ``pre_collapsed=True``."""
    return (rules.select("host", "robots_disallow", "robots_allow")
            .groupBy("host").agg(
                F.array_sort(F.array_distinct(
                    F.flatten(F.collect_list("robots_disallow"))))
                .alias("robots_disallow"),
                F.array_sort(F.array_distinct(
                    F.flatten(F.collect_list("robots_allow"))))
                .alias("robots_allow")))


def collapse_policy(policy: DataFrame) -> DataFrame:
    """Collapse a full host-policy dimension to ONE row per host — the
    whole-table analogue of ``collapse_rules``. A caller-supplied policy
    with duplicate host rows (e.g. two unioned policy files) would fan out
    every pending row of that host through ``compose_wave``'s broadcast
    left join — duplicating batch rows, fetch results, and ultimately the
    keyed frontier delta's url_hash rows (the same hazard the streaming
    admission collapses its policy dimension for). Delay collapses to the
    MAX (politeness can only tighten), rule lists union like
    ``collapse_rules`` (longest-prefix-match depends only on set
    membership), user_agent to the lexicographic max for determinism."""
    return policy.groupBy("host").agg(
        F.max("crawl_delay_ms").alias("crawl_delay_ms"),
        F.array_sort(F.array_distinct(
            F.flatten(F.collect_list("robots_disallow"))))
        .alias("robots_disallow"),
        F.array_sort(F.array_distinct(
            F.flatten(F.collect_list("robots_allow"))))
        .alias("robots_allow"),
        F.max("user_agent").alias("user_agent"))


def decorate_robots_ok(rows: DataFrame, rules: DataFrame,
                       out_col: str = "robots_ok",
                       pre_collapsed: bool = False) -> DataFrame:
    """Evaluate the robots decision ONCE per row and store it as a boolean
    column — the enqueue-time form of compose_wave's admission predicate
    (identical expression: hosts absent from ``rules`` or with a NULL
    disallow list are allowed). ``rules`` is the host-dimensioned policy
    table (only host / robots_disallow / robots_allow are read); broadcast
    dimension join + one fold over the O(new-rows) set, so the rule arrays
    and the interpreted prefix fold are paid once per URL ever enqueued
    instead of once per pending URL per wave.

    Duplicate host rows in ``rules`` are collapsed to ONE row per host
    (``collapse_rules``; skipped when the caller already did it —
    ``pre_collapsed=True``): a left join against a dimension with
    duplicate keys would FAN OUT each enqueued URL into several frontier
    rows, and here the fan-out would be PERSISTED as duplicate url_hash
    keys (the same hazard the streaming admission collapses its policy
    for — CLAUDE.md)."""
    r = (rules.select("host", "robots_disallow", "robots_allow")
         if pre_collapsed else collapse_rules(rules))
    return (rows.join(F.broadcast(r), on="host", how="left")
            .withColumn(out_col,
                        F.when(F.col("robots_disallow").isNull(), F.lit(True))
                        .otherwise(robots_allowed(
                            F.col("url"), F.col("robots_disallow"),
                            F.coalesce(F.col("robots_allow"),
                                       F.array().cast("array<string>")))))
            .drop("robots_disallow", "robots_allow"))


def apportion_budget(host_rank: DataFrame, total_budget: int) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a global wave budget
    across hosts, proportional to link authority.

    compose_wave's per-host budget is delay-derived (politeness bound);
    when the *cluster's* fetch capacity is the binding constraint, the
    scheduler instead splits a global ``total_budget`` of fetch slots by
    ``host_rank`` (linkgraph.host_rank_rollup): each host gets
    ``floor(total_budget * rank / total_rank)`` slots, and the leftover
    ``r < #hosts`` slots go to the largest fractional remainders
    (ties broken by host name — deterministic, engine-exact; all-integer
    arithmetic, so the split reproduces bit-for-bit on any cluster).
    Hosts allocated 0 slots simply wait for a future wave.

    Scale shape: one scalar total (map-side-combined sum), then a bounded
    top-r selection over per-host remainders — two-phase (local rank
    per partition pruned to ≤ r, then the authoritative window), the same
    prefix-stable pattern as compose_wave's admission, so no task ever
    sorts more than r × n_partitions rows even at 10^8 hosts.
    """
    tot = host_rank.agg(F.sum("host_rank").alias("__t"))
    j = host_rank.join(F.broadcast(tot))
    # nullif: an all-zero/empty rank table must not ANSI-fail the div —
    # it degrades to a zero allocation (callers fall back to delay budgets)
    base = (j.withColumn("__q", F.expr(
                f"cast({total_budget} as bigint) * host_rank"))
             .withColumn("__base", F.expr("__q div nullif(__t, 0)"))
             .withColumn("__rem", F.expr("__q % nullif(__t, 0)"))
             .localCheckpoint(eager=False))
    leftover = base.agg(
        (F.lit(total_budget) - F.sum("__base")).alias("__r")).collect()[0]["__r"]
    if leftover is None:  # zero total authority: nothing to apportion
        return host_rank.select(
            "host", F.lit(0).cast("int").alias("host_budget"))
    lw = Window.partitionBy("__pid").orderBy(F.desc("__rem"), F.asc("host"))
    w = Window.orderBy(F.desc("__rem"), F.asc("host"))
    pruned = (base.withColumn("__pid", F.spark_partition_id())
              .withColumn("__lrank", F.row_number().over(lw))
              .filter(F.col("__lrank") <= F.lit(int(leftover)))
              .drop("__pid", "__lrank"))
    topped = pruned.withColumn("__rank", F.row_number().over(w)) \
        .filter(F.col("__rank") <= F.lit(int(leftover))) \
        .select("host", F.lit(1).alias("__extra"))
    return (base.join(topped, "host", "left")
            .select("host",
                    (F.col("__base") + F.coalesce(F.col("__extra"), F.lit(0)))
                    .cast("int").alias("host_budget")))


MIN_CRAWL_DELAY_MS = 100
MAX_CRAWL_DELAY_MS = 120_000


def adapt_host_policy(host_policy: DataFrame, results: DataFrame,
                      min_delay_ms: int = MIN_CRAWL_DELAY_MS,
                      max_delay_ms: int = MAX_CRAWL_DELAY_MS) -> DataFrame:
    """AIMD per-host crawl-delay update from one wave's fetch outcomes.

    The reference reacts to server pushback by sleeping longer inside the
    fetch loop (src/utils/download_utils.py exponential retry sleeps); at
    wave granularity the equivalent control loop is a *policy table update*
    between waves: any failure on a host doubles its crawl delay (clamped
    to ``max_delay_ms``), an all-success wave decays it to 3/4 (clamped to
    ``min_delay_ms``), hosts with no outcomes this wave keep their delay.
    Integer arithmetic (div) throughout, so successive applications are
    engine-exact and replayable.

    ``results`` carries (host, success:boolean) — the wave fetch log.
    Returns the new host_policy with identical schema. Scale shape: one
    groupBy host over boolean flags (partial-aggregated map-side), then an
    equi-join against the policy dimension keyed on host — never larger
    than #hosts rows on either side.
    """
    # NULL success = "no outcome recorded", not a failure: filtered out so
    # an all-NULL host keeps its delay (the no-outcomes contract)
    tally = (results.filter(F.col("success").isNotNull())
             .groupBy("host").agg(
                 F.sum(F.when(F.col("success"), 0).otherwise(1))
                 .alias("__n_fail")))
    joined = host_policy.join(tally, "host", "left")
    new_delay = (
        F.when(F.col("__n_fail").isNull(), F.col("crawl_delay_ms"))
        .when(F.col("__n_fail") > 0,
              F.least(F.lit(max_delay_ms), F.col("crawl_delay_ms") * 2))
        .otherwise(F.greatest(F.lit(min_delay_ms),
                              F.expr("crawl_delay_ms * 3 div 4").cast("int"))))
    return joined.withColumn("crawl_delay_ms", new_delay.cast("int")) \
                 .drop("__n_fail")


_WS = " \t\r"  # robots.txt line/value trim set (CRLF bodies leave a trailing
# \r on every split line; tabs are legal blank padding per RFC 9309 §2.2)


def _rule_value(prefix: str):
    """Trimmed value of a ``prefix:`` rule line (NULL when the line is not
    that rule; case-insensitive prefix match on already-trimmed lines)."""
    plen = len(prefix) + 2  # value starts after "<prefix>:"
    return F.when(
        F.lower(F.col("line")).startswith(prefix + ":"),
        F.btrim(F.substring(F.col("line"), plen, 100000), F.lit(_WS)))


def _ordered_values(pos_val_structs):
    """collect_list of (pos, val) structs → values in line order, empties
    dropped (collect_list already skipped the NULL non-matching lines)."""
    return F.filter(
        F.transform(F.array_sort(pos_val_structs), lambda s: s["val"]),
        lambda v: v != "")


def parse_robots_policy(robots: DataFrame,
                        host_col: str = "host",
                        body_col: str = "robots_txt",
                        default_delay_ms: int = DEFAULT_CRAWL_DELAY_MS,
                        agent_token: str = AGENT_TOKEN) -> DataFrame:
    """robots.txt bodies → host_policy rows (north rule: "robots.txt rules
    materialized as a broadcast host-policy table").

    Parses the standard line grammar JVM-side (no UDF) with RFC 9309 group
    semantics: lines split on ``\\r?\\n`` (CRLF-safe), ``#`` comments
    stripped, values trimmed of spaces/tabs/CR. Consecutive ``User-agent``
    lines head one group; a group whose UA token equals ``agent_token``
    (case-insensitive) overrides ``*`` groups; with several matching groups
    their rules merge. A file with no ``User-agent`` line at all is treated
    as one global group (lenient real-world behavior). Per selected group:
    all non-empty ``Disallow``/``Allow`` prefixes, first ``Crawl-delay``
    wins, missing delay → engine default.

    Shape: the group-id state machine runs as a WINDOW PREFIX-SUM over
    posexploded lines (gid = running count of User-agent-run starts), not as
    an array fold — a fold tagging L lines with a growing array accumulator
    copies O(L^2) cells in the interpreted HOF evaluator, so one real-world
    robots.txt with tens of thousands of lines could stall a task. The
    window shuffles on ``host`` (each host's lines sort in one task, bounded
    by its own file size); the policy build is a tiny side input next to the
    frontier, so these exchanges are noise at scale.
    """
    lines_arr = F.filter(
        F.transform(F.split(F.col(body_col), r"\r?\n"),
                    lambda l: F.btrim(F.regexp_replace(l, "#.*", ""),
                                      F.lit(_WS))),
        lambda l: l != "")
    hosts = robots.select(F.col(host_col).alias("host"))
    rows = (robots
            .select(F.col(host_col).alias("host"), lines_arr.alias("__lines"))
            .select("host", F.posexplode("__lines").alias("pos", "line"))
            .withColumn("__is_ua",
                        F.lower(F.col("line")).startswith("user-agent:")))
    w = Window.partitionBy("host").orderBy("pos")
    # gid increments at the first User-agent line of each header run
    # (adjacent UA lines share a group); pre-group preamble lines get gid 0
    rows = rows.withColumn(
        "__start",
        (F.col("__is_ua") & ~F.lag("__is_ua", 1, False).over(w)).cast("int"))
    rows = rows.withColumn("__gid", F.sum("__start").over(w)) \
        .localCheckpoint(eager=False)

    token = F.lower(F.btrim(F.substring(F.col("line"), 12, 100000),
                            F.lit(_WS)))
    gsel = rows.groupBy("host").agg(
        F.collect_set(F.when(F.col("__is_ua")
                             & (token == agent_token.lower()),
                             F.col("__gid"))).alias("__agent_gids"),
        F.collect_set(F.when(F.col("__is_ua") & (token == "*"),
                             F.col("__gid"))).alias("__star_gids"),
        F.max(F.col("__is_ua")).alias("__has_ua"))

    keep = (F.when(~F.col("__has_ua"), F.lit(True))  # headerless: global
            .when(F.size("__agent_gids") > 0,
                  F.array_contains(F.col("__agent_gids"), F.col("__gid")))
            .when(F.size("__star_gids") > 0,
                  F.array_contains(F.col("__star_gids"), F.col("__gid")))
            .otherwise(F.lit(False)))
    selected = rows.join(gsel, "host").filter(keep)

    delay_str = F.regexp_extract(F.col("line"),
                                 r"(?i)^crawl-delay:[ \t]*([0-9]+)", 1)
    pol = selected.groupBy("host").agg(
        # first Crawl-delay wins: min (pos, value) struct orders by pos
        F.min(F.when(delay_str != "",
                     F.struct(F.col("pos").alias("pos"),
                              delay_str.cast("int").alias("d"))))
        .alias("__delay"),
        _ordered_values(F.collect_list(F.when(
            _rule_value("disallow").isNotNull(),
            F.struct(F.col("pos").alias("pos"),
                     _rule_value("disallow").alias("val")))))
        .alias("robots_disallow"),
        _ordered_values(F.collect_list(F.when(
            _rule_value("allow").isNotNull(),
            F.struct(F.col("pos").alias("pos"),
                     _rule_value("allow").alias("val")))))
        .alias("robots_allow"),
    )
    # hosts whose body selects no lines (empty file, or UA groups that match
    # neither the agent nor *) still get a policy row with defaults
    empty = F.array().cast("array<string>")
    return hosts.join(pol, "host", "left").select(
        "host",
        F.coalesce(F.col("__delay")["d"] * 1000,
                   F.lit(default_delay_ms)).cast("int").alias("crawl_delay_ms"),
        F.coalesce("robots_disallow", empty).alias("robots_disallow"),
        F.coalesce("robots_allow", empty).alias("robots_allow"),
        F.lit(DEFAULT_USER_AGENT).alias("user_agent"),
    )
