"""Exact reference error strings, centralized.

Observable-behavior notes (verified against the reference source):

* In the C++ dispatch (reference: src/age_extension.cpp:228-256,292-320,
  371-399) the inner ``Secret '<name>' not found`` / ``... does not contain
  public_key`` throws happen INSIDE a try whose ``catch (const Exception &)``
  rethrows the generic "(not a valid age key or secret name)" message — so
  the inner messages are never observable from age_encrypt/age_decrypt/
  age_encrypt_multi.  We reproduce the observable message.
* Rust FFI boundary collapses any encrypt failure to ``Invalid age recipient
  key: <key>`` (reference: rust/src/lib.rs:82-88) and any decrypt failure to
  ``Decryption failed: <cause>`` (reference: rust/src/lib.rs:187-193); multi
  prepends ``Encryption failed: `` (reference: rust/src/lib.rs:266-272,285).
"""

from __future__ import annotations


class AgeError(ValueError):
    """InvalidInputException analog — message text matches the reference."""


def invalid_recipient_key_or_secret(key: str) -> str:
    return f"Invalid age recipient key: {key} (not a valid age key or secret name)"


def invalid_recipient_key(key: str) -> str:
    return f"Invalid age recipient key: {key}"


def invalid_identity_key_or_secret(key: str) -> str:
    return f"Invalid age identity key: {key} (not a valid age key or secret name)"


def decryption_failed(cause: str) -> str:
    return f"Decryption failed: {cause}"


def invalid_recipient(key: str) -> str:
    return f"Invalid recipient: {key}"


def encryption_failed_invalid_recipient_at(i: int, key: str) -> str:
    return f"Encryption failed: Invalid recipient at position {i}: {key}"


RECIPIENTS_EMPTY = "Recipients list cannot be empty"

# Secret validation (reference: src/age_extension.cpp:84-127)
PUBLIC_KEY_PREFIX_ERR = "Age public key must start with 'age1'"
PRIVATE_KEY_PREFIX_ERR = "Age private key must start with 'AGE-SECRET-KEY-1'"
PUBLIC_KEY_FILE_PREFIX_ERR = "Age public key from file must start with 'age1'"
PRIVATE_KEY_FILE_PREFIX_ERR = "Age private key from file must start with 'AGE-SECRET-KEY-1'"
BOTH_PUBLIC_ERR = "Cannot specify both 'public_key' and 'public_key_file'"
BOTH_PRIVATE_ERR = "Cannot specify both 'private_key' and 'private_key_file'"


def failed_to_read_key_file(which: str, inner: str) -> str:
    return f"Failed to read {which} key file: {inner}"


def key_file_missing(path: str) -> str:
    return f"Key file does not exist or cannot be opened: {path}"


def key_file_too_large(path: str) -> str:
    return f"Key file too large (max 1MB): {path}"


# Engine-specific (no reference twin): the JVM path's multi-session guard
# (ADVICE r11).  Mirrored verbatim in jvm/src/agespark/AgeSecretRegistry.java.
def secret_manager_mismatch(name: str) -> str:
    return (
        f"Secret name '{name}' was resolved against a different SecretManager "
        "than the one this session's JVM crypto is registered with; call "
        "register(spark, manager) on the session that executes this plan"
    )
