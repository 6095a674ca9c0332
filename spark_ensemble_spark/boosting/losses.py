"""GBM loss library: each loss written once, as Spark SQL expression text.

Semantic parity with
``/root/reference/core/src/main/scala/org/apache/spark/ml/boosting/GBMLoss.scala:79-318``.
Every method returns SQL text over SQL text arguments: ``y``, the encoded
label, and ``ps``, its ``dim`` raw scores. A loss gives ``encode_label``,
``loss`` (one expression), ``gradient`` and ``hessian`` (one per dim; None for
a loss without a hessian); classification losses add ``link``, the
probability array at scoring.

A fit takes the Column forms with ``F.expr``; the step search puts the text
straight into ONE ``selectExpr`` of every candidate (composing Columns costs
~10 Py4J roundtrips per operator per candidate, measured as ~25% of a GBM
fit's wall clock). Every literal is a double (``2.0D``, ``CAST('<repr>' AS
DOUBLE)``): a bare ``2.0`` is a DECIMAL in Spark SQL.
"""

from __future__ import annotations

from typing import List, Optional, Sequence


def _double(v: float) -> str:
    """A SQL literal that parses to exactly the double ``v``."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


class GBMLoss:
    """A loss of ``dim`` raw scores; ``dim = 1`` for every loss but LogLoss."""

    dim = 1

    def encode_label(self, label: str) -> str:
        """Regression: identity (``GBMLoss.scala:124-127``)."""
        return label

    def loss(self, y: str, ps: Sequence[str]) -> str:
        raise NotImplementedError

    def gradient(self, y: str, ps: Sequence[str]) -> List[str]:
        raise NotImplementedError

    def hessian(self, y: str, ps: Sequence[str]) -> Optional[List[str]]:
        return None


class ScalarLoss(GBMLoss):
    """A ``dim = 1`` loss, written over the one raw score ``p`` as ``_loss``,
    ``_gradient`` and, where it has one, ``_hessian``."""

    _hessian = None

    def loss(self, y, ps):
        return self._loss(f"({y})", f"({ps[0]})")

    def gradient(self, y, ps):
        return [self._gradient(f"({y})", f"({ps[0]})")]

    def hessian(self, y, ps):
        return None if self._hessian is None else [self._hessian(f"({y})", f"({ps[0]})")]


class SquaredLoss(ScalarLoss):
    def _loss(self, y, p):
        return f"power({y} - {p}, 2.0D) / 2.0D"

    def _gradient(self, y, p):
        return f"-({y} - {p})"

    def _hessian(self, y, p):
        return "1.0D"


class AbsoluteLoss(ScalarLoss):
    def _loss(self, y, p):
        return f"abs({y} - {p})"

    def _gradient(self, y, p):
        return f"-signum({y} - {p})"


class LogCoshLoss(ScalarLoss):
    def _loss(self, y, p):
        return f"ln(cosh({y} - {p}))"

    def _gradient(self, y, p):
        return f"-tanh({y} - {p})"

    def _hessian(self, y, p):
        return f"1.0D / power(cosh({y} - {p}), 2.0D)"


class ScaledLogCoshLoss(LogCoshLoss):
    """Asymmetric log-cosh: α-weighted under-prediction, (1−α) over-prediction."""

    def __init__(self, alpha: float) -> None:
        self.alpha = float(alpha)

    def _scaled(self, y, p, term):
        scale = f"CASE WHEN {y} > {p} THEN {_double(self.alpha)} ELSE {_double(1 - self.alpha)} END"
        return f"({scale}) * ({term})"

    def _loss(self, y, p):
        return self._scaled(y, p, super()._loss(y, p))

    def _gradient(self, y, p):
        return self._scaled(y, p, super()._gradient(y, p))

    def _hessian(self, y, p):
        return self._scaled(y, p, super()._hessian(y, p))


class HuberLoss(ScalarLoss):
    """δ is re-estimated adaptively each GBM iteration as the α-quantile of
    |residual| (``GBMRegressor.scala:342-353``)."""

    def __init__(self, delta: float) -> None:
        self.delta = float(delta)

    def _loss(self, y, p):
        d = _double(self.delta)
        return (
            f"CASE WHEN abs({y} - {p}) <= {d} THEN {SquaredLoss()._loss(y, p)} "
            f"ELSE {d} * (abs({y} - {p}) - {d} / 2.0D) END"
        )

    def _gradient(self, y, p):
        d = _double(self.delta)
        return f"CASE WHEN abs({y} - {p}) <= {d} THEN -({y} - {p}) ELSE -{d} * signum({y} - {p}) END"


class QuantileLoss(ScalarLoss):
    def __init__(self, quantile: float) -> None:
        self.quantile = float(quantile)

    def _loss(self, y, p):
        q = _double(self.quantile)
        return f"CASE WHEN {y} > {p} THEN {q} * ({y} - {p}) ELSE ({q} - 1.0D) * ({y} - {p}) END"

    def _gradient(self, y, p):
        q = self.quantile
        return f"CASE WHEN {y} > {p} THEN {_double(-q)} ELSE {_double(1.0 - q)} END"


# ---- classification losses -------------------------------------------------


class MarginLoss(ScalarLoss):
    """A binary margin loss: labels encoded 2y−1 (``GBMLoss.scala:272-273,
    297-298``). Its ``link`` reads the FIRST component of the binary raw
    array (−r, r), as the reference does; prediction uses argmax(raw) and is
    unaffected."""

    def encode_label(self, label):
        return f"2.0D * ({label}) - 1.0D"

    def link(self, ps: Sequence[str]) -> str:
        p1 = self._positive(f"({ps[0]})")
        return f"array(1.0D - {p1}, {p1})"


class ExponentialLoss(MarginLoss):
    """AdaBoost-style margin loss (``GBMLoss.scala:265-291``)."""

    def _loss(self, y, p):
        return f"exp(-{y} * {p})"

    def _gradient(self, y, p):
        return f"-{y} * exp(-{y} * {p})"

    def _hessian(self, y, p):
        return f"{y} * {y} * exp(-{y} * {p})"

    def _positive(self, r0):
        # reference link (GBMLoss.scala:284-289): p1 = 1/(1+exp(−2·raw(0)))
        return f"(1.0D / (1.0D + exp(-2.0D * {r0})))"


class BernoulliLoss(MarginLoss):
    """log(1+exp(−2yp)) margin loss (``GBMLoss.scala:293-318``)."""

    def _loss(self, y, p):
        # log1p(exp(x)) computed stably
        x = f"(-2.0D * {y} * {p})"
        return f"CASE WHEN {x} > 30.0D THEN {x} ELSE log1p(exp({x})) END"

    def _gradient(self, y, p):
        return f"-2.0D * {y} / (1.0D + exp(2.0D * {y} * {p}))"

    def _hessian(self, y, p):
        e = f"exp(2.0D * {p} * {y})"
        return f"4.0D * {e} * {y} * {y} / power(1.0D + {e}, 2.0D)"

    def _positive(self, r0):
        # reference: proba(1) = 1/(1+exp(raw(0))) with raw = (−r, r)
        return f"(1.0D / (1.0D + exp({r0})))"


class LogLoss(GBMLoss):
    """K-dim softmax cross-entropy (``GBMLoss.scala:196-263``). Labels stay
    scalar (the one-hot is implicit). Every formula is scalar arithmetic over
    the K scores: array higher-order functions are CodegenFallback, so they
    would run interpreted per row."""

    def __init__(self, num_classes: int) -> None:
        self.dim = int(num_classes)

    @staticmethod
    def _softmax(ps: Sequence[str]):
        """(max, Σ_j exp(p_j − max), [exp(p_j − max) / Σ])."""
        ps = [f"({p})" for p in ps]
        m = f"greatest({', '.join(ps)})" if len(ps) > 1 else ps[0]
        exps = [f"exp({p} - {m})" for p in ps]
        total = f"({' + '.join(exps)})"
        return m, total, [f"{e} / {total}" for e in exps]

    def loss(self, y, ps):
        """logsumexp(p) − p[label]."""
        m, total, _ = self._softmax(ps)
        py = " ".join(f"WHEN ({y}) = {j} THEN ({p})" for j, p in enumerate(ps))
        return f"({m} + ln({total})) - (CASE {py} ELSE 0.0D END)"

    def gradient(self, y, ps):
        """softmax(p)_j − 1[j = label]."""
        return [
            f"{s} - CASE WHEN ({y}) = {j} THEN 1.0D ELSE 0.0D END"
            for j, s in enumerate(self._softmax(ps)[2])
        ]

    def hessian(self, y, ps):
        return [f"{s} * (1.0D - {s})" for s in self._softmax(ps)[2]]

    def link(self, ps: Sequence[str]) -> str:
        return f"array({', '.join(self._softmax(ps)[2])})"


def regression_loss(name: str, alpha: float, quantile_delta: Optional[float] = None) -> GBMLoss:
    """Factory matching ``GBMRegressorParams.loss`` (``GBMRegressor.scala:119-132``)."""
    name = name.lower()
    if name == "squared":
        return SquaredLoss()
    if name == "absolute":
        return AbsoluteLoss()
    if name == "huber":
        return HuberLoss(quantile_delta if quantile_delta is not None else alpha)
    if name == "quantile":
        return QuantileLoss(alpha)
    if name == "logcosh":
        return LogCoshLoss()
    if name == "scaledlogcosh":
        return ScaledLogCoshLoss(alpha)
    raise ValueError(f"unknown regression loss {name}")


def classification_loss(name: str, num_classes: int) -> GBMLoss:
    """Factory matching ``GBMClassifierParams.loss`` (``GBMClassifier.scala:116-127``):
    binary tasks use the scalar margin losses; multiclass uses K-dim logloss."""
    name = name.lower()
    if name == "logloss":
        return LogLoss(num_classes)
    if name == "exponential":
        return ExponentialLoss()
    if name == "bernoulli":
        return BernoulliLoss()
    raise ValueError(f"unknown classification loss {name}")
