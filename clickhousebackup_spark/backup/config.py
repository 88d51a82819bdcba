"""Backup engine configuration (reference parity: A1-A4, A21).

Mirrors the reference's env-var surface (`Dockerfile:13-34`) and its
validation semantics (`env.sh:4-22,32-35`): required fields must
differ from the ``**None**`` sentinel or construction fails; the
retention-window arithmetic of `env.sh:26-29` (weeks·7+1 days,
months·31+1 days) is applied once here — validated at engine
construction, not re-checked per run (the reference re-sources env.sh
in backup.sh:13 only because init.sh:6 *executes* rather than sources
it — quirk A21).
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: The reference's unset-config sentinel (env.sh:4-22).
SENTINEL = "**None**"

GENERATIONS = ("last", "daily", "weekly", "monthly")

#: Hadoop glob metacharacters. Spark's parquet reader globs every path
#: it is given, so a backup under a path holding one is written but
#: cannot be read back; the backup dir and db names (path components
#: of every snapshot) are refused at construction.
GLOB_METACHARACTERS = frozenset("\\{}[]*?")


class ConfigError(ValueError):
    """Raised where the reference would `exit 1` (env.sh:6,11,16,21,33)."""


@dataclass(frozen=True)
class RetentionPolicy:
    """Retention windows, with the reference's arithmetic pre-applied.

    Defaults per `Dockerfile:25-28`; week/month expansion per
    `env.sh:26-29`.
    """

    keep_mins: int = 1440
    keep_days: int = 7
    keep_weeks: int = 4
    keep_months: int = 6

    @property
    def keep_weeks_days(self) -> int:
        return self.keep_weeks * 7 + 1  # env.sh:28

    @property
    def keep_months_days(self) -> int:
        return self.keep_months * 31 + 1  # env.sh:29

    def window_minutes(self) -> dict[str, int]:
        """Per-generation age windows in minutes (prune inputs, A16)."""
        return {
            "last": self.keep_mins,
            "daily": self.keep_days * 24 * 60,
            "weekly": self.keep_weeks_days * 24 * 60,
            "monthly": self.keep_months_days * 24 * 60,
        }


@dataclass(frozen=True)
class BackupConfig:
    """The engine-side analog of the reference's env-var config."""

    host: str = SENTINEL  # CLICKHOUSE_HOST (env.sh:4)
    dbs: str = SENTINEL  # CLICKHOUSE_DB comma-list (env.sh:9)
    user: str = SENTINEL  # CLICKHOUSE_USER (env.sh:14)
    password: str = SENTINEL  # CLICKHOUSE_PASSWORD (env.sh:19)
    backup_dir: str = "/backups"
    suffix: str = ".zip"  # BACKUP_SUFFIX (Dockerfile:23)
    latest_type: str = "symlink"  # BACKUP_LATEST_TYPE (Dockerfile:24)
    schedule: str = "@daily"  # SCHEDULE (Dockerfile:20)
    on_start: bool = False  # BACKUP_ON_START (Dockerfile:21)
    retention: RetentionPolicy = field(default_factory=RetentionPolicy)

    def __post_init__(self):
        for name in ("host", "dbs", "user", "password"):
            if getattr(self, name) == SENTINEL:
                raise ConfigError(
                    f"you need to set the {name} config "
                    f"(reference: env.sh validation of the matching env var)"
                )
        if self.latest_type not in ("symlink", "hardlink", "none"):
            raise ConfigError(f"invalid latest_type: {self.latest_type}")
        for db in self.db_list:
            if GLOB_METACHARACTERS & set(db):
                raise ConfigError(f"db name holds a glob metacharacter: {db!r}")

    @property
    def db_list(self) -> list[str]:
        """The CLICKHOUSE_DBS split (env.sh:24: tr ',' ' ')."""
        return [d for d in self.dbs.split(",") if d]


def validate_backup_dir(path: str) -> None:
    """Dir must exist and be writable+executable (env.sh:32-35), and
    its path must hold no ``GLOB_METACHARACTERS``."""
    import os

    if GLOB_METACHARACTERS & set(path):
        raise ConfigError(f"backup dir holds a glob metacharacter: {path!r}")
    if not os.path.isdir(path):
        raise ConfigError(f"backup dir does not exist: {path}")
    if not os.access(path, os.W_OK | os.X_OK):
        raise ConfigError(f"backup dir not writable/executable: {path}")
