"""Scan-result schema: measurements, check results, verification result.

Field names mirror the reference's v4 diagnostics wire shape
(``soda-core/src/soda_core/common/soda_cloud.py:1922-2034``:
identity, checkPath, outcome, value, failedRowsCount/Percent,
datasetRowsTested, checkRowsTested) and the check-identity hash
(``common/consistent_hash_builder.py:9-51`` — blake2b, 8-byte digest).
"""

from __future__ import annotations

import enum
import hashlib
from dataclasses import dataclass, field
from typing import Any, Optional


class CheckOutcome(str, enum.Enum):
    """Reference outcome enum (contract_verification_impl.py:1328-1340)."""

    PASSED = "passed"
    FAILED = "failed"
    WARNED = "warned"
    NOT_EVALUATED = "not_evaluated"
    EXCLUDED = "excluded"


def consistent_hash(*parts: Any) -> str:
    """blake2b 8-byte consistent hash over stringified parts — same shape
    as the reference's check-identity hash (consistent_hash_builder.py:9-51).
    Fresh implementation: feed each non-None part utf-8 with a separator.
    """
    h = hashlib.blake2b(digest_size=8)
    for p in parts:
        if p is None:
            continue
        h.update(str(p).encode("utf-8"))
        h.update(b"\x1f")
    return h.hexdigest()


@dataclass(frozen=True)
class Measurement:
    """(metric_id, value, metric_name) — one scalar per metric per scan
    (reference contract_verification.py:532-536). ``error`` is the cause
    (``"<ExceptionType>: <message>"``) when the metric failed to build,
    analyse or run; ``value`` is then None."""

    metric_id: str
    value: Any
    metric_name: str
    error: Optional[str] = None


@dataclass
class CheckResult:
    identity: str
    check_type: str
    name: str
    column: Optional[str]
    outcome: CheckOutcome
    metric_value: Any = None
    threshold: str = ""
    level: str = "fail"
    diagnostics: dict[str, Any] = field(default_factory=dict)
    message: Optional[str] = None
    #: True when outcome is NOT_EVALUATED because the metric is
    #: *legitimately* unavailable (e.g. a NULL ``rows_tested_query``
    #: denominator, which the reference treats as valid —
    #: failed_rows_check.py:133-140) rather than because an engine/SQL
    #: error occurred. CLI exit-code mapping keys off this: only
    #: error-NOT_EVALUATED maps to LOG_ERRORS.
    metric_unavailable: bool = False

    def to_row(self) -> dict[str, Any]:
        """Flat dict for the check-metrics sink (Iceberg/parquet table).

        Schema note: ``metric_unavailable`` was added in round 3 — when
        appending to a fixed-schema table created before it existed,
        enable schema evolution (Iceberg) or read mixed tables with
        ``mergeSchema`` (parquet); old rows surface NULL."""
        return {
            "identity": self.identity,
            "check_type": self.check_type,
            "name": self.name,
            "column": self.column,
            "outcome": self.outcome.value,
            "metric_value": float(self.metric_value)
            if isinstance(self.metric_value, (int, float))
            else None,
            "threshold": self.threshold,
            "level": self.level,
            "diagnostics": {k: str(v) for k, v in self.diagnostics.items()},
            "message": self.message,
            "metric_unavailable": self.metric_unavailable,
        }


@dataclass
class ContractVerificationResult:
    dataset: str
    check_results: list[CheckResult]
    measurements: list[Measurement]
    #: cause of a runtime failure of the fused aggregation job; when set,
    #: every aggregation metric re-ran as its own job (the fallback path)
    fused_fallback_cause: Optional[str] = None

    @property
    def fused_fallback(self) -> bool:
        """True when the per-metric fallback path ran instead of the one
        fused aggregation job."""
        return self.fused_fallback_cause is not None

    @property
    def status(self) -> str:
        """Rollup (reference contract_verification_impl.py:602-615):
        any FAILED → failed; else any WARNED → warned; else passed."""
        outcomes = {r.outcome for r in self.check_results}
        if CheckOutcome.FAILED in outcomes:
            return "failed"
        if CheckOutcome.WARNED in outcomes:
            return "warned"
        return "passed"

    def is_passed(self) -> bool:
        return self.status == "passed"

    def failed_checks(self) -> list[CheckResult]:
        return [r for r in self.check_results if r.outcome == CheckOutcome.FAILED]

    def summary(self) -> str:
        lines = [f"dataset={self.dataset} status={self.status}"]
        if self.fused_fallback:
            lines.append(
                "  fused aggregation failed, metrics ran one job each: "
                f"{self.fused_fallback_cause}"
            )
        for r in self.check_results:
            lines.append(
                f"  [{r.outcome.value.upper():>13}] {r.name}"
                f" value={r.metric_value} ({r.threshold})"
            )
        return "\n".join(lines)


def check_identity(
    dataset: str,
    check_type: str,
    column: Optional[str],
    qualifier: Optional[str],
    extra: Any = None,
) -> str:
    """Stable lineage key per check — duplicate identities are contract
    errors in the reference (base.py:1263-1282); the engine enforces the
    same invariant."""
    return consistent_hash(dataset, check_type, column, qualifier, extra)


@dataclass
class SessionResult:
    """Result of verifying N contracts in one session (reference:
    ContractVerificationSession, contract_verification_impl.py:181-294 —
    per-contract isolation, session-level rollup)."""

    # (dataset, error) per crashed contract — a list, not a dict keyed by
    # dataset: two contracts against the same dataset can both crash and
    # both errors must survive
    results: list["ContractVerificationResult"]
    errors: list[tuple[str, str]]

    @property
    def status(self) -> str:
        if self.errors:
            return "error"
        if any(r.status == "failed" for r in self.results):
            return "failed"
        if any(r.status == "warned" for r in self.results):
            return "warned"
        return "passed"

    def is_passed(self) -> bool:
        return self.status == "passed"

    def summary(self) -> str:
        lines = [f"session status={self.status}"]
        for r in self.results:
            lines.extend("  " + ln for ln in r.summary().splitlines())
        for ds, err in self.errors:
            lines.append(f"  dataset={ds} ERROR {err}")
        return "\n".join(lines)
