"""Engine configuration.

Analogue of the reference's declared-struct config layer
(/root/reference/internal/config/config.go:11-77 — fixed schema, defaults,
no inference).  Plain dataclass; no dynamic config discovery.
"""

from __future__ import annotations

from dataclasses import dataclass


#: Retention tiers, ordered fine → coarse.  Each tier is (name, spark
#: interval literal, seconds, ``date_trunc`` unit).  The pipeline builds
#: every tier from raw in one grouping-sets aggregation; ``rollup_tiers``
#: cascades 1m from raw, 1h from 1m, 1d from 1h (SURVEY.md §2 C8).
TIERS: tuple[tuple[str, str, int, str], ...] = (
    ("1m", "1 minute", 60, "minute"),
    ("1h", "1 hour", 3600, "hour"),
    ("1d", "1 day", 86400, "day"),
)

TIER_SECONDS: dict[str, int] = {name: sec for name, _, sec, _ in TIERS}
TIER_INTERVAL: dict[str, str] = {name: iv for name, iv, _, _ in TIERS}
TIER_UNIT: dict[str, str] = {name: unit for name, _, _, unit in TIERS}

#: Reject reasons — mirrors the Results.Reason taxonomy of the reference
#: (/root/reference/internal/repository/messages.go:76,100,126,144): parse
#: failure, invalid payload, store failure, post-store check failure.
REASON_NULL_KEY = "null_or_empty_conv_id"
REASON_NULL_TS = "null_ts"
REASON_BAD_TURN_IDX = "negative_or_null_turn_idx"
REASON_DUP_KEY = "duplicate_conv_turn_key"
REASON_BAD_ROLE = "unknown_role"

VALID_ROLES = ("user", "assistant", "system", "tool")


@dataclass(frozen=True)
class EngineConfig:
    """Settings of the rollup pipeline.

    ``conv_buckets`` is the hash-bucket count for conv_id (the Iceberg
    ``bucket(conv_id)`` partition-spec analogue); ``tiers`` are the
    rollup tiers the pipeline materializes (names from :data:`TIERS`).
    Spark's own settings belong to ``session.get_spark``.
    """

    conv_buckets: int = 32
    tiers: tuple[str, ...] = ("1m", "1h", "1d")
    # Per-operation wall-clock bound on every sink commit (reference
    # `maxQueryTimeOut`, config.go / pgsql.go:86-96): None = unbounded.
    # On deadline the commit's Spark job group is cancelled and the
    # batch fails with QueryTimeoutError — acks (the job_metrics commit,
    # then overwrite mode's unit markers) come last, so the
    # broker-redelivery replay path takes over, exactly as
    # a statement timeout surfaces in the reference.
    max_query_timeout_sec: float | None = None


def amqp_uri(address: str, port: int, username: str = "", password: str = "") -> str:
    """Source URI formatting with the reference's exact empty-field
    fallbacks (/root/reference/internal/consumer/consumer.go:47-61,
    matrix-tested at consumer_test.go:8-111): no username → anonymous
    URI; empty password → ``user:@``; empty address/port → error."""
    if not address or not port:
        raise ValueError("address or port empty")
    if not username:
        return f"amqp://{address}:{port}/"
    if not password:
        return f"amqp://{username}:@{address}:{port}/"
    return f"amqp://{username}:{password}@{address}:{port}/"


def pg_dsn(
    address: str,
    port: int,
    username: str,
    password: str,
    database: str,
    sslmode: str = "disable",
) -> str:
    """Sink DSN formatting (storage.go:36-45 analogue) — same key order
    and spacing as the reference's fmt.Sprintf."""
    return (
        f"host={address} port={port} user={username} "
        f"password={password} dbname={database} sslmode={sslmode}"
    )
