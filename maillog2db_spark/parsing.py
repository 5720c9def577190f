"""Line-parse core: the reference's regex grammar as Catalyst expressions.

Reference grammar (all six patterns verified against
/root/reference/maillog2db.go):

  header   maillog2db.go:46  — admission filter + (ts, mailhost, process, pid)
  smtpd    maillog2db.go:49  — (queueid, client)
  smtp     maillog2db.go:52  — (queueid|NOQUEUE, to, relay, delay, delays,
                                dsn, status, statusext)
  qmgr     maillog2db.go:55  — (queueid, from, size, nrcpt, statusext)
  cleanup  maillog2db.go:58  — (queueid, message-id)
  clientsplit maillog2db.go:208 — client "rdns[ip]..." → (prefix-match, rdns, ip)

Everything here is native ``regexp_extract`` / ``rlike`` — JVM-side,
whole-stage-codegen'd, no Python in the hot path. The router preserves
the reference's first-match-wins cascade order smtpd → smtp → qmgr →
cleanup (maillog2db.go:199-275); routing is content-based only (the
captured process name is never consulted — replicated faithfully).

Compatibility notes (see SURVEY.md §2.2):
  * The reference header regex requires a 2-digit day, silently dropping
    classic space-padded single-digit-day syslog lines (``Aug  3 ...``).
    ``strict_day=True`` (default) replicates that; ``strict_day=False``
    accepts both.
  * The reference's timestamp parser injects the *processing-time* year
    and crashes the process on parse failure (maillog2db.go:444-454).
    Ours takes an explicit ``year`` parameter and quarantines failures
    as NULL (``try_to_timestamp``) — never a poison pill.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- regex constants (single source of truth; synth.py re-uses these
# verbatim for the DuckDB oracle — both engines run the same RE2-safe
# patterns) ---------------------------------------------------------------

HEADER_RE_STRICT = r"([a-zA-Z]{1,3}\s[0-9]{2}\s[0-9]{2}:[0-9]{2}:[0-9]{2})\s([\S]+)\s([\S]+)\[([0-9]{1,})\]:"
HEADER_RE_LENIENT = r"([a-zA-Z]{1,3}\s+[0-9]{1,2}\s[0-9]{2}:[0-9]{2}:[0-9]{2})\s([\S]+)\s([\S]+)\[([0-9]{1,})\]:"
SMTPD_RE = r"([a-zA-Z0-9]+):\sclient=(.*)"
SMTP_RE = r"([a-zA-Z0-9]+|NOQUEUE):\sto=(.*?),\srelay=(.*?),\sdelay=(.*?),\sdelays=(.*?),\sdsn=(.*?),\sstatus=(.*?)\s(.*)"
QMGR_RE = r"([a-zA-Z0-9]+):\sfrom=(.*?),\ssize=([0-9]{1,}),\snrcpt=([0-9]{1,})\s(.*)"
CLEANUP_RE = r"([a-zA-Z0-9]+):\smessage-id=(.*)"
CLIENT_SPLIT_RE = r"(.*?)\[(.*?)\]"

ENTRY_SMTPD = "smtpd"
ENTRY_SMTP = "smtp"
ENTRY_QMGR = "qmgr"
ENTRY_CLEANUP = "cleanup"
ENTRY_OTHER = "other"


def header_re(strict_day: bool = True) -> str:
    return HEADER_RE_STRICT if strict_day else HEADER_RE_LENIENT


# --- single-pass group extraction (r11, guide §1.2/§4.2 per-task work) -----
#
# regexp_extract(m, pat, i) runs the FULL regex match once per call, so
# projecting k groups costs k matches per row (a delivery row paid 8).
# regex_groups evaluates the pattern ONCE per row via a regexp_replace
# that rewrites the leftmost match into its groups joined on a
# separator byte, then splits. The rewrite is NOT free — the
# replace/split/allocation machinery costs roughly 3-4 plain matches —
# so it is applied ONLY where the per-site A/B won: the 8-group
# backtracking-heavy SMTP_RE (~1.4x, 3/3 pairings). The header (5
# groups), qmgr (5), smtpd/cleanup/clientsplit (2-3) all measured
# neutral-to-2x-slower with it and stay on per-group extracts.
# Exact-equivalence contract with
# [regexp_extract(m, pat, i) for i = 1..n], for ALL inputs:
#
#   * "^.*?" + pat explores (start position, internal captures) in the
#     same order as Matcher.find() — the lazy prefix grows only after
#     every internal configuration at the current start is exhausted —
#     so the replaced match is the identical leftmost match with
#     identical captures; the appended "(?s:.*)" consumes any suffix
#     after the match (without re-emitting it) so the whole input is
#     rewritten to exactly the n joined groups.
#   * Guarded fallback: rows where the separator byte occurs in the
#     input (could corrupt the split) or where the split width is not n
#     (no match: regexp_replace returned the input unchanged) take the
#     original per-group regexp_extract path — byte-identical semantics
#     including the empty-string-on-no-match convention. Every caller
#     sits behind the router (rows are pre-filtered to their matching
#     pattern) and log lines never contain \x01, so the fallback never
#     evaluates in practice; it exists to make the rewrite a pure
#     plan-level optimization rather than a semantic change.

_GROUPS_SEP = "\x01"


def regex_groups(m: Column, pat: str, n: int) -> Column:
    """Array of capture groups 1..n of the leftmost match of ``pat`` in
    ``m``, one regex evaluation per row (see module comment above).
    Callers should land this in its own projection (withColumn) so the
    array is computed once and fields are cheap element_at reads —
    CollapseProject keeps the split-off stage because inlining would
    duplicate a non-cheap expression."""
    assert n >= 2, "no-match detection needs n >= 2 (split width 1 == n)"
    repl = _GROUPS_SEP.join(f"${i}" for i in range(1, n + 1))
    # the non-capturing group keeps a top-level ``a|b`` in ``pat`` from
    # splitting the anchored wrapper into two alternatives
    arr = F.split(
        F.regexp_replace(m, "^.*?(?:" + pat + ")(?s:.*)", repl), _GROUPS_SEP, -1
    )
    fallback = F.array(*[F.regexp_extract(m, pat, i) for i in range(1, n + 1)])
    return F.when(
        (~F.contains(m, F.lit(_GROUPS_SEP))) & (F.size(arr) == n), arr
    ).otherwise(fallback)


def syslog_timestamp(ts_raw: Column, year: int) -> Column:
    """Syslog ``MMM dd HH:mm:ss`` → timestamp with an injected year.

    The reference uses the wall-clock year and log.Fatals on failure
    (maillog2db.go:444-454); we parameterize the year and return NULL
    on failure (quarantine, never crash). Whitespace is collapsed so
    both strict and space-padded day forms parse.
    """
    normalized = F.regexp_replace(F.trim(ts_raw), r"\s+", " ")
    return F.try_to_timestamp(
        F.concat_ws(" ", F.lit(str(year)), normalized),
        F.lit("yyyy MMM d HH:mm:ss"),
    )


def parse_lines(
    lines: DataFrame,
    value_col: str = "value",
    seq_col: str | None = None,
    year: int = 2024,
    strict_day: bool = True,
) -> DataFrame:
    """Raw log lines → parsed + routed DataFrame.

    One declarative plan covering the reference's admission filter
    (maillog2db.go:181-183), header extraction (:185), remainder
    projection (:187) and content router (:199-275).

    ``seq_col``: explicit total-order column (file order in the
    reference — load-bearing for last-writer-wins merge, SURVEY §2.7
    ST6). If None, a best-effort ``monotonically_increasing_id`` is
    used (valid per-file in batch reads; callers at scale should carry
    a real (file, offset) key).

    Output columns:
      seq, ts_raw, ts, mailhost, process, pid, message, entry_type
    """
    hdr = header_re(strict_day)
    v = F.col(value_col)

    df = lines
    if seq_col is None:
        df = df.withColumn("seq", F.monotonically_increasing_id())
    else:
        df = df.withColumn("seq", F.col(seq_col).cast("long"))

    # Admission filter (P1) — lines without a syslog header are dropped.
    df = df.filter(v.rlike(hdr))

    # Header extraction (P2) + remainder projection (P3). The reference
    # removes every occurrence of the matched header substring then trims
    # (strings.Replace(line, match, "", -1), maillog2db.go:187);
    # F.replace has identical replace-all semantics. Stays per-group
    # regexp_extract (r11 A/B): the regex_groups single-pass form
    # measured SLOWER here 4/4 interleaved pairings (5-group pattern —
    # the replace/split machinery costs more than the four matches it
    # saves; the rewrite only pays for the 8-group SMTP_RE, see
    # extract_smtp).
    hdr_match = F.regexp_extract(v, hdr, 0)
    message = F.trim(F.replace(v, hdr_match, F.lit("")))

    parsed = df.select(
        "seq",
        F.regexp_extract(v, hdr, 1).alias("ts_raw"),
        F.regexp_extract(v, hdr, 2).alias("mailhost"),
        F.regexp_extract(v, hdr, 3).alias("process"),
        F.regexp_extract(v, hdr, 4).alias("pid"),
        message.alias("message"),
    ).withColumn("ts", syslog_timestamp(F.col("ts_raw"), year))

    # Content router (P4) — first-match-wins cascade, reference order.
    m = F.col("message")
    parsed = parsed.withColumn(
        "entry_type",
        F.when(m.rlike(SMTPD_RE), ENTRY_SMTPD)
        .when(m.rlike(SMTP_RE), ENTRY_SMTP)
        .when(m.rlike(QMGR_RE), ENTRY_QMGR)
        .when(m.rlike(CLEANUP_RE), ENTRY_CLEANUP)
        .otherwise(ENTRY_OTHER),
    )
    return parsed


# --- per-branch field extraction (P5-P9) ----------------------------------


def extract_smtpd(parsed: DataFrame) -> DataFrame:
    """smtpd branch → (seq, ts, mailhost, queueid, client, client_full,
    client_rdns, client_addr).

    ``client_full`` is the clientsplit group-0 *prefix match* — the
    reference stores that (suffix after ``]`` truncated) in the clients
    table while keeping the raw string in messages.message_client
    (maillog2db.go:208-213). Lines whose client has no ``[...]`` are
    quarantined out (the reference would panic on them —
    csplitmatches[0] index out of range)."""
    # per-group extracts (r11 A/B): the regex_groups form measured ~2x
    # slower on these 2-3-group patterns — see extract_smtp for the one
    # site where the single-pass rewrite wins
    m = F.col("message")
    df = parsed.filter(F.col("entry_type") == ENTRY_SMTPD).select(
        "seq",
        "ts",
        "mailhost",
        F.regexp_extract(m, SMTPD_RE, 1).alias("queueid"),
        F.regexp_extract(m, SMTPD_RE, 2).alias("client"),
    )
    c = F.col("client")
    return df.select(
        "*",
        F.regexp_extract(c, CLIENT_SPLIT_RE, 0).alias("client_full"),
        F.regexp_extract(c, CLIENT_SPLIT_RE, 1).alias("client_rdns"),
        F.regexp_extract(c, CLIENT_SPLIT_RE, 2).alias("client_addr"),
    )


def extract_smtp(parsed: DataFrame) -> DataFrame:
    """smtp branch → delivery attempt fields (8 capture groups,
    maillog2db.go:52,215-238).

    Single-pass regex_groups (r11): one SMTP_RE evaluation per row
    instead of eight — measured ~1.4x on the noop-sink probe (3/3
    interleaved pairings: 2.89/2.22/2.25 → 1.95/1.53/1.55 s per 5
    passes at sf0.1); the seven lazy-group separators make this the one
    pattern expensive enough to out-cost the replace/split machinery."""
    m = F.col("message")
    return (
        parsed.filter(F.col("entry_type") == ENTRY_SMTP)
        .withColumn("_g", regex_groups(m, SMTP_RE, 8))
        .select(
            "seq",
            "ts",
            F.col("_g")[0].alias("queueid"),
            F.col("_g")[1].alias("to"),
            F.col("_g")[2].alias("relay"),
            F.col("_g")[3].alias("delay"),
            F.col("_g")[4].alias("delays"),
            F.col("_g")[5].alias("dsn"),
            F.col("_g")[6].alias("status"),
            F.col("_g")[7].alias("statusext"),
        )
    )
