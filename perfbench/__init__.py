"""Seeded single-client benchmark of the dynamo2es_lambda_spark engine."""
