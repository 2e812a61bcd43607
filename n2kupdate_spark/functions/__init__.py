from n2kupdate_spark.functions.fingerprint import fingerprint, fingerprint_sql, FINGERPRINT_SEP
from n2kupdate_spark.functions.scalars import ts_seconds, dot, l2_norm, cosine

__all__ = ["fingerprint", "fingerprint_sql", "FINGERPRINT_SEP", "ts_seconds", "dot", "l2_norm", "cosine"]
