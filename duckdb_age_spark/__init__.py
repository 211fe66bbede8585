"""duckdb_age_spark — PySpark-native engine with the capabilities of the
nicad/duckdb-age reference (age-encryption scalar functions + secret
management) plus large-scale data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns, event streams).

Quick start::

    import duckdb_age_spark as age
    age.register(spark)
    spark.sql("SELECT age_version()").show()
"""

from .functions import (
    ENGINE_VERSION,
    age_decrypt,
    age_encrypt,
    age_encrypt_multi,
    age_keygen,
    age_keygen_from_seed,
    age_version,
)
from .register import register
from .secrets import SecretManager, default_manager

# last, so that its gc.freeze() also covers the package's own imports:
# reused Python workers import the package while they unpickle a task's
# closure, and this sets each of them up once
from . import _worker  # noqa: E402, F401

__version__ = "0.1.0"

__all__ = [
    "ENGINE_VERSION",
    "SecretManager",
    "age_decrypt",
    "age_encrypt",
    "age_encrypt_multi",
    "age_keygen",
    "age_keygen_from_seed",
    "age_version",
    "default_manager",
    "register",
]
