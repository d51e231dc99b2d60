"""Engine error taxonomy.

Mirrors the reference's error enum (ConfigError / KafkaError / S3Error /
GrpcError / SerializationError / IoError / General — error.rs:4-36) as a
Python exception hierarchy.
"""

from __future__ import annotations


class ConnectorError(Exception):
    """Base class for all engine errors."""


class ConfigError(ConnectorError):
    pass


class SinkError(ConnectorError):
    """Object-store sink failures (reference: S3Error)."""


class SerializationError(ConnectorError):
    pass
